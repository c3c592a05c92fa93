package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.TopKAgg.{bestPer, topK}
import graft.functions.VectorExpressions._

/** IVF (inverted-file) approximate nearest neighbor — the bucketed scale
  * path for similarity search (SURVEY.md §2 C7/M7 extension surface;
  * coarse quantizer per Jégou et al. 2011, the same paper as PQ).
  *
  * Build: assign every base vector to its nearest coarse centroid
  * ("cell") — one executor-side argmin against a plan-embedded centroid
  * table, zero shuffle — and [[build]] persists the result as
  * CELL-PARTITIONED parquet. Search ([[searchPartitioned]]): each query
  * probes only its `nprobe` nearest cells; the union of probed cells
  * (≤ nCells values — bounded by the centroid count, never by data size)
  * statically prunes the parquet scan to `PartitionFilters`, so at 100 TB
  * the candidate read is ~(nprobe/nCells) of the index, not a full scan.
  * The probe side carries NO broadcast hint: a small query batch is
  * auto-broadcast by AQE, a large one shuffles on the cell key — the
  * operator never caps the batch size at driver memory.
  *
  * With data-derived fixed centroids the whole operator is deterministic
  * (DuckDB-oracle-checkable); production centroids come from
  * [[KMeans.fit]] on a seeded sample.
  */
object IvfIndex {

  /** (id, vec, extra..., cell) assignment under the given coarse
    * centroids. `extraCols` carries metadata (labels, tenant keys,
    * timestamps) into the index so filtered searches can push predicates
    * straight to the index scan.
    */
  def assign(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      extraCols: Seq[String] = Nil
  ): DataFrame =
    df.select(
      col(idCol).as("id") +:
        col(vecCol).as("vec") +:
        extraCols.map(col) :+
        KMeans.assignCol(spark, centroids, col(vecCol)).as("cell"): _*
    )

  /** Materialize the index: cell-partitioned parquet. One directory per
    * cell, so a probed search reads only its cells' files.
    */
  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      path: String,
      extraCols: Seq[String] = Nil
  ): Unit =
    assign(spark, df, idCol, vecCol, centroids, extraCols)
      .withColumn("gen", lit(0L))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Open a [[build]]-written index; `cell` comes back as the partition
    * column, eligible for partition pruning.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  // ---------------------------------------------------------------------
  // Index maintenance: LSM-style upsert / delete / compact.
  //
  // Every row carries a generation number `gen` (0 at build). A
  // maintenance transaction allocates the next gen G and appends (a) new
  // rows stamped gen = G — a CELL-PARTITIONED APPEND, so only the touched
  // cells' directories gain files, never a rewrite — and (b) tombstones
  // (id, G) to a tiny side log, meaning "versions of id older than G are
  // dead". The live view anti-joins the tombstone log (|log| rows —
  // maintenance-sized, not corpus-sized; AQE broadcasts it) and drops a
  // row when a tombstone of its id carries a later gen, so an upsert's
  // own G-stamped row survives the tombstone it writes. An index that never
  // saw a delete has no log and pays zero masking cost.
  //
  // Single-writer maintenance is assumed (the usual table-format
  // contract); the gen counter and directory swap use driver-side
  // filesystem ops (rename-based — a metadata move on HDFS-like stores).
  // ---------------------------------------------------------------------

  private def logDir(path: String): String = path + ".log"
  private def tombPath(path: String): String = logDir(path) + "/tombstones"
  private def genFile(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(logDir(path), "GEN")

  /** Allocate the next generation number (last + 1, persisted). Shared
    * with [[IvfAdc]] — the residual-code index uses the identical log
    * format, so one maintenance story covers both layouts.
    */
  private[operators] def nextGen(path: String): Long = {
    val f = genFile(path)
    java.nio.file.Files.createDirectories(f.getParent)
    val last =
      if (java.nio.file.Files.exists(f))
        java.nio.file.Files.readString(f).trim.toLong
      else 0L
    val g = last + 1
    java.nio.file.Files.writeString(f, g.toString)
    g
  }

  /** Declared schema of the tombstone log, which [[appendTombstones]]
    * alone writes: [[masked]] reads the log with it instead of inferring
    * it, one job less per masked read. A spec pins it to the footer of a
    * written log, since Spark reads a missing column as null. */
  private[graft] val TombstoneSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("gen", LongType)))

  private[operators] def appendTombstones(
      spark: SparkSession,
      path: String,
      ids: DataFrame, // single numeric id column
      gen: Long
  ): Unit =
    ids
      .select(col(ids.columns.head).cast("long").as("id"), lit(gen).as("gen"))
      .write.mode("append").parquet(tombPath(path))

  /** Upsert: append the batch's rows at the next generation and tombstone
    * their ids at that generation (older versions die, the new ones
    * survive). Only the touched cells' directories gain files.
    */
  def upsert(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      extraCols: Seq[String] = Nil
  ): Unit = {
    val g = nextGen(path)
    assign(spark, df, idCol, vecCol, centroids, extraCols)
      .withColumn("gen", lit(g))
      .write.mode("append").partitionBy("cell").parquet(path)
    appendTombstones(spark, path, df.select(col(idCol)), g)
  }

  /** Delete: tombstone the ids at the next generation. O(|ids|) log
    * append — the index directories are untouched.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    appendTombstones(spark, path, ids, nextGen(path))

  /** Apply the tombstone mask to rows read from the index. No log → the
    * input plan is returned unchanged (zero cost for append-only indexes).
    * `asOfGen` caps which tombstones apply (time travel).
    */
  private[graft] def masked(
      spark: SparkSession,
      path: String,
      base: DataFrame,
      asOfGen: Long = Long.MaxValue
  ): DataFrame =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tombPath(path)))) base
    else {
      val tomb = spark.read.schema(TombstoneSchema).parquet(tombPath(path))
        .filter(col("gen") <= asOfGen)
        .select(col("id").as("tomb_id"), col("gen").as("tomb_gen"))
      // a row lives while its gen is >= every tombstone gen of its id: no
      // aggregation of the log, so no shuffle stage before the broadcast
      base.join(tomb,
        col("id") === col("tomb_id") && (col("tomb_gen") > col("gen") || col("gen").isNull),
        "left_anti")
    }

  /** The live view of a maintained index: rows minus tombstoned versions.
    * `asOfGen` time-travels — the view exactly as of that generation
    * (rows appended later and tombstones written later are both
    * invisible), the gen column doubling as a snapshot id the way LSM
    * sequence numbers do. Default = current.
    */
  def loadLive(
      spark: SparkSession,
      path: String,
      asOfGen: Long = Long.MaxValue
  ): DataFrame =
    masked(
      spark, path,
      load(spark, path).filter(col("gen") <= asOfGen),
      asOfGen)

  /** Split one HOT cell into `subCentroids.length` new cells — the
    * rebalancing move for the skew [[ivf_cell_stats]]-style introspection
    * surfaces (a hot cell caps probe pruning: every query probing it
    * scans its whole bag). The cell's rows are re-assigned among the
    * sub-centroids and appended under FRESH cell ids (`startCell + i`);
    * the old directory is retired. Only the split cell's rows move —
    * O(|hot cell|), never an index rewrite — and all other cells, the
    * maintenance log, and row payloads (id, vec, extras, gen) are
    * untouched, so tombstones keep masking by id exactly as before.
    *
    * Returns the updated centroid TABLE (old minus the split id, plus
    * the sub-centroids under their new ids) — feed it to
    * [[probeCellsTable]]; after a split the centroid set is keyed, not
    * positional.
    */
  def splitCell(
      spark: SparkSession,
      path: String,
      cents: DataFrame, // (cell int, cvec array<double>)
      cell: Int,
      subCentroids: Array[Array[Double]],
      startCell: Int
  ): DataFrame = {
    import spark.implicits._
    val hot = load(spark, path).filter(col("cell") === cell).drop("cell")
    val reassigned = hot.withColumn(
      "cell",
      (KMeans.assignCol(spark, subCentroids, col("vec")) + lit(startCell))
        .cast("int"))
      // materialize BEFORE writing into the same root: the append must
      // not race the scan it feeds from
      .localCheckpoint()
    reassigned.write.mode("append").partitionBy("cell").parquet(path)
    // retire the old directory (driver-side rename-scale op, like compact)
    val oldDir = java.nio.file.Paths.get(path, s"cell=$cell")
    if (java.nio.file.Files.exists(oldDir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(oldDir).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.delete)
    }
    val subDf = subCentroids.zipWithIndex
      .map { case (c, i) => (startCell + i, c.toSeq) }.toSeq
      .toDF("cell", "cvec")
    cents.filter(col("cell") =!= cell).unionByName(subDf)
  }

  /** Major compaction: rewrite the live view at gen 0 and drop the log.
    * Search results are invariant (spec-gated); the payoff is the masking
    * join disappearing and the appended small files merging.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    import java.nio.file.{Files, Paths, Path => JPath}
    import scala.jdk.CollectionConverters._
    val tmp = path + ".compacting"
    loadLive(spark, path)
      .withColumn("gen", lit(0L))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    def rmTree(p: JPath): Unit =
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    rmTree(Paths.get(path))
    Files.move(Paths.get(tmp), Paths.get(path))
    rmTree(Paths.get(logDir(path)))
  }

  /** Per-query probe set: the `nprobe` nearest cells, with the query
    * vector carried through the aggregation (no second scan of the query
    * side). Returns (qid, cell, qvec).
    */
  def probeCells(
      spark: SparkSession,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      nprobe: Int
  ): DataFrame = {
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cvec")
    probeCellsTable(queries, qidCol, qvecCol, cents, nprobe)
  }

  /** [[probeCells]] over an EXPLICIT (cell, cvec) centroid table — cell
    * ids need not be dense positions. This is what post-[[splitCell]]
    * indexes probe with: splitting retires a cell id and mints fresh
    * ones, so the centroid set becomes a keyed table, not an array.
    */
  def probeCellsTable(
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      cents: DataFrame, // (cell int, cvec array<double>)
      nprobe: Int
  ): DataFrame = {
    queries
      .crossJoin(broadcast(cents)) // genuinely tiny dim: |cells| rows
      .groupBy(col(qidCol))
      .agg(
        topK(
          l2SqFast(col(qvecCol), col("cvec")),
          col("cell").cast("long"), nprobe
        ).as("pc"),
        first(col(qvecCol)).as(qvecCol) // functionally dependent on qid
      )
      .select(col(qidCol), explode(col("pc.id")).as("cell"), col(qvecCol))
      .select(col(qidCol), col("cell").cast("int").as("cell"), col(qvecCol))
  }

  /** Per-executor memo of the centroid-HNSW used by [[probeCellsAnn]],
    * keyed by broadcast id: the graph build is deterministic (fixed seed,
    * insertion order = array order), so every executor materializes the
    * identical index once and shares it across partitions. Bounded — a
    * session cycling through many centroid sets clears the map rather
    * than accumulating dead graphs.
    */
  private val annIndexCache =
    new java.util.concurrent.ConcurrentHashMap[Long, HnswIndex]()

  /** ANN probe selection — the 100-TB path for LARGE cell counts. The
    * exact [[probeCells]] scores every query against every centroid:
    * |Q|·nCells·D work, fine at thousands of cells, dominant at the
    * 64k-1M cells a billion-vector IVF wants (nCells ~ sqrt(N)). Here
    * each executor builds ONE deterministic HNSW over the broadcast
    * centroid array and each query finds its nprobe cells in
    * O(log nCells) graph hops instead. Probe quality follows HNSW recall
    * (near-1 at production ef); with efSearch >= nCells the traversal is
    * exhaustive and the result matches [[probeCells]] exactly (spec-
    * gated). Same (qid, cell, qvec) shape — feed to
    * [[searchPartitionedWith]]. Query ids must be numeric (cast to long).
    */
  def probeCellsAnn(
      spark: SparkSession,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      nprobe: Int,
      params: HnswParams = HnswParams(m = 16, efConstruction = 100, efSearch = 128),
      seed: Long = 42L
  ): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val bcId = bc.id
    val p = params
    queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        if (annIndexCache.size > 8) annIndexCache.clear()
        val idx = annIndexCache.computeIfAbsent(
          bcId,
          _ => {
            val index = new HnswIndex(p, seed)
            bc.value.foreach(v => index.insert(v))
            index
          }
        )
        it.flatMap { case (qid, qv) =>
          idx.search(qv.toArray, nprobe).map { case (_, cell) =>
            (qid, cell, qv)
          }
        }
      }
      .toDF(qidCol, "cell", qvecCol)
      .select(col(qidCol), col("cell").cast("int").as("cell"), col(qvecCol))
  }

  /** Approximate top-k against an in-memory/assigned base (id, vec, cell).
    * Candidate scan = equi-join on the low-cardinality cell key; join
    * strategy is left to AQE (broadcast when the probe side is small,
    * shuffle when it isn't). Returns (query_id, neighbor_id, dist, rnk).
    */
  def search(
      spark: SparkSession,
      base: DataFrame, // (id, vec, cell) from [[assign]] or [[load]]
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int
  ): DataFrame =
    searchWithProbes(
      base,
      probeCells(spark, queries, qidCol, qvecCol, centroids, nprobe),
      qidCol, qvecCol, k
    )

  /** Candidate scan + per-query bounded-heap top-k over a precomputed
    * (qid, cell, qvec) probe table — shared by [[search]] and
    * [[searchPartitioned]] so the probe set is computed exactly once per
    * call.
    */
  private def searchWithProbes(
      base: DataFrame,
      probes: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int
  ): DataFrame =
    bestPer(base.join(probes, "cell"), Seq(qidCol),
      l2SqFast(col(qvecCol), col("vec")), "id", k)
      .withColumnRenamed("id", "neighbor_id")

  /** Approximate top-k against a [[build]]-written index with PARTITION
    * PRUNING: the distinct probed cells (≤ nCells ints — a bounded
    * driver-side list, not a data-sized collect) become a static partition
    * filter, so the scan reads only the probed directories.
    *
    * The probe set is evaluated ONCE: an eager `localCheckpoint`
    * materializes it (one pass over the query batch), and both consumers —
    * the partition-filter collect and the candidate join — read the
    * materialized copy. The checkpoint blocks are executor-side (spillable,
    * never a driver collect) and are released by Spark's ContextCleaner
    * once the result plan is dropped, so a long-lived session does not
    * accumulate probe caches.
    */
  def searchPartitioned(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int
  ): DataFrame =
    searchPartitionedWith(
      spark, indexPath,
      probeCells(spark, queries, qidCol, qvecCol, centroids, nprobe),
      qidCol, qvecCol, k
    )

  /** [[searchPartitioned]] over a caller-supplied (qid, cell, qvec) probe
    * table — from [[probeCells]] (exact) or [[probeCellsAnn]] (the large-
    * nCells path). The probe set is evaluated once (localCheckpoint) and
    * shared by the partition-filter collect and the candidate join.
    */
  def searchPartitionedWith(
      spark: SparkSession,
      indexPath: String,
      probeTable: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      baseFilter: Option[org.apache.spark.sql.Column] = None
  ): DataFrame = {
    val (probes, base) = probesAndPrunedBase(spark, indexPath, probeTable, baseFilter)
    searchWithProbes(base, probes, qidCol, qvecCol, k)
  }

  /** Shared probe-materialize + prune + mask step: evaluate the probe
    * table ONCE (localCheckpoint), turn its distinct cells (≤ nCells —
    * a bounded driver list, never data-sized) into a static partition
    * filter on the index scan, and apply the tombstone mask to the
    * pruned candidates only. A metadata predicate (FILTERED ANN)
    * composes with the partition pruning: the cell filter prunes
    * directories, the attribute filter pushes to parquet row groups —
    * both reductions happen at the scan.
    */
  private[graft] def probesAndPrunedBase(
      spark: SparkSession,
      indexPath: String,
      probeTable: DataFrame,
      baseFilter: Option[org.apache.spark.sql.Column] = None
  ): (DataFrame, DataFrame) = {
    val probes = probeTable.localCheckpoint()
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val pruned = load(spark, indexPath)
      .filter(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
    val base = masked(spark, indexPath, baseFilter.fold(pruned)(pruned.filter))
    (probes, base)
  }

  /** Per-cell covering radii of a built index: (cell, cvec, rmax) where
    * rmax = max ||p − c|| over the cell's members. One hash aggregation
    * over the index — at scale this is a build-time artifact computed
    * once and persisted beside the centroids, not a per-query pass.
    */
  def cellRadii(
      spark: SparkSession,
      indexPath: String,
      centroids: Array[Array[Double]]
  ): DataFrame = {
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cvec")
    load(spark, indexPath)
      .join(broadcast(cents), "cell")
      .groupBy(col("cell"))
      .agg(max(sqrt(l2SqFast(col("vec"), col("cvec")))).as("rmax"))
      .join(broadcast(cents), "cell")
      .select(col("cell"), col("cvec"), col("rmax"))
  }

  /** Cells a range query must scan: by the triangle inequality, a cell
    * with ||q − c|| > r + rmax(cell) provably contains no point within r
    * of q, so dropping it cannot lose a match; every other cell is kept.
    * `radius2` is the SQUARED threshold (the engine's range-search
    * convention). The 1e-9 slack absorbs sqrt rounding so float noise in
    * the PRUNE TEST can only over-include — exactness never rides on it.
    */
  def rangeProbeCells(
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      cellsWithRadii: DataFrame, // (cell, cvec, rmax) from [[cellRadii]]
      radius2: Double
  ): DataFrame =
    queries
      .select(col(qidCol), col(qvecCol))
      .crossJoin(broadcast(cellsWithRadii))
      .filter(
        sqrt(l2SqFast(col(qvecCol), col("cvec"))) <=
          lit(math.sqrt(radius2)) + col("rmax") + lit(1e-9)
      )
      .select(col(qidCol), col("cell"), col(qvecCol))

  /** EXACT radius search over a built index — the range-query twin of
    * [[searchPartitioned]]. Returns every (query, neighbor) pair with
    * squared L2 ≤ radius2, identical to the brute-force scan
    * ([[BruteForceKNN.rangeSearch]]): cell pruning drops only
    * provably-empty cells and every candidate is verified exactly, so
    * what the index buys a range query is the scan cut (pruned parquet
    * directories), not an approximation. Per-query pruning happens twice:
    * the union of probed cells statically prunes the scan, and the
    * (qid, cell) equi-join restricts each query to ITS admissible cells.
    */
  def rangeSearchPartitioned(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      radius2: Double
  ): DataFrame = {
    val (probes, base) = probesAndPrunedBase(
      spark, indexPath,
      rangeProbeCells(
        queries, qidCol, qvecCol,
        cellRadii(spark, indexPath, centroids), radius2
      ))
    base
      .join(probes, "cell")
      .select(
        col(qidCol),
        col("id").as("neighbor_id"),
        l2SqFast(col(qvecCol), col("vec")).as("dist")
      )
      .filter(col("dist") <= radius2)
  }

  /** EXACT top-k through the IVF layout — two phases, both partition-
    * pruned, no full scan:
    *
    *   1. probe the `nprobe` nearest cells ([[searchPartitioned]]) and
    *      take each query's kth-best distance as an UPPER BOUND on its
    *      true kth-neighbor distance (any k candidates give a valid
    *      bound; fewer than k probed points → no bound → all cells);
    *   2. by the triangle inequality, a cell with
    *      ||q − c|| > sqrt(ub) + rmax(cell) provably contains no point
    *      within the bound, so scanning only the admissible cells and
    *      re-ranking exactly returns the TRUE top-k.
    *
    * The result is bit-identical to brute force (same (dist, id)
    * tie-break) while the scan is cut to the admissible directories —
    * the index buys exactness a scan reduction, not an approximation.
    * How much it cuts is data-dependent: tight clusters prune hard;
    * high-dimensional near-random data has cell radii comparable to
    * inter-cell distances and may admit everything (the bound is still
    * sound — the query degrades to a verified full scan, never to a
    * wrong answer). The 1e-9 slack absorbs sqrt rounding so float noise
    * can only over-include.
    */
  def exactSearchPartitioned(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int,
      cellsWithRadii: Option[DataFrame] = None // precomputed [[cellRadii]] — the build-time artifact; omitted = recompute (one index scan)
  ): DataFrame = {
    val radii = cellsWithRadii.getOrElse(cellRadii(spark, indexPath, centroids))
    val ub = searchPartitioned(
      spark, indexPath, queries, qidCol, qvecCol, centroids, k, nprobe)
      .groupBy(col(qidCol))
      .agg(max(col("dist")).as("ub2"), count(lit(1)).as("nfound"))
    val bounded = queries
      .select(col(qidCol), col(qvecCol))
      .join(ub, Seq(qidCol), "left")
      .select(
        col(qidCol), col(qvecCol),
        when(col("nfound") >= k, sqrt(col("ub2")))
          .otherwise(lit(Double.MaxValue)).as("rub")
      )
    val probes = bounded
      .crossJoin(broadcast(radii))
      .filter(
        sqrt(l2SqFast(col(qvecCol), col("cvec"))) <=
          col("rub") + col("rmax") + lit(1e-9)
      )
      .select(col(qidCol), col("cell"), col(qvecCol))
    searchPartitionedWith(spark, indexPath, probes, qidCol, qvecCol, k)
  }
}
