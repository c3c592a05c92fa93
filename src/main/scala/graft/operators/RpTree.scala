package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.dotFast

/** Random-projection tree forest (Annoy-style; Dasgupta & Freund 2008's
  * RP-tree median split): each tree recursively splits the corpus at
  * the LOWER MEDIAN of projections onto a deterministic md5-derived
  * hyperplane — `numTrees` independent trees of fixed `depth`, leaves =
  * 2^depth buckets per tree. Search descends each tree by the sign of
  * (proj − median) at every node, takes the union of the query's leaf
  * buckets across trees as the candidate set, and exact-reranks it —
  * the tree-forest ANN family (Annoy/FLANN lineage) next to IVF
  * (cells), HNSW (graphs), and NN-Descent (kNN graphs).
  *
  * Everything is deterministic and engine-portable: hyperplanes come
  * from [[Dedup.hyperplane]] (the SQL-replayable md5 formula),
  * projections accumulate left-to-right like every engine dot product,
  * and the split point is the lower median — the projection value at
  * in-node rank ⌈n/2⌉ under the total order (proj, id) — so ties and
  * even counts break identically everywhere. `proj <= median` goes
  * left.
  *
  * Scale shape (build): per level, one projection map (the hyperplane
  * is a plan literal), then ONE `Packing.distributedRank` over
  * (tree, node, proj, id) — range partitions spread every node across
  * the cluster, so the root split never sees a single-partition window
  * — plus a per-node (count, min-rank) aggregate to turn global ranks
  * into in-node ranks; the median table is 2^level·numTrees rows,
  * broadcastable at every level. `depth` levels = `depth` such passes.
  * Search: descending is `depth` broadcast-joins against the tiny
  * median table (queries never shuffle); the candidate join is an
  * equi-join on (tree, leaf); the rerank is the standard bounded-heap
  * top-k over |candidates| ≈ numTrees·n/2^depth rows per query.
  */
object RpTree {

  /** Forest build artifact: per-point leaf assignments and the
    * per-level split tables that let a query descend.
    */
  final case class Forest(
      leaves: DataFrame, // (tree, id, leaf)
      medians: DataFrame // (level, tree, node, med)
  )

  /** Deterministic hyperplane for (tree, level): component d of the
    * splitting direction, reusing the shared md5 formula with a
    * namespaced plane index so trees and levels are independent.
    */
  private[graft] def plane(tree: Int, level: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(d => Dedup.hyperplane(1000 + tree * 64 + level, d))

  /** Per-tree projection column for one level: the hyperplane of the
    * row's own tree, as a literal-folded CASE chain over `numTrees`
    * plan-embedded plane literals.
    */
  private def projFor(
      vecCol: org.apache.spark.sql.Column,
      numTrees: Int,
      level: Int,
      dim: Int
  ): org.apache.spark.sql.Column =
    (0 until numTrees).foldLeft(lit(Double.NaN)) { (acc, t) =>
      when(col("tree") === t, dotFast(vecCol, typedLit(plane(t, level, dim).toSeq)))
        .otherwise(acc)
    }

  /** Build the forest: `depth` median-split passes shared between both
    * artifacts (leaf table and split tables).
    *
    * Pass shape per level (r15 rewrite — the r14 driver bench measured
    * the old distributedRank/window/broadcast-join spelling at 59 driver
    * jobs for depth 4, dominated by per-action planning and AQE stage
    * round-trips, anti-scaling with core count):
    *   1. range-partition + sort the corpus by (tree, node, proj, id)
    *      and localCheckpoint it — the ONE corpus-sized materialization;
    *   2. one single-stage pass collects per-partition contiguous
    *      (tree, node) run-lengths (partitions are sorted, so a node's
    *      rows are contiguous runs; range partitions are ordered, so
    *      partition-major order IS the global sort order);
    *   3. the driver turns run-lengths into each node's count and the
    *      (partition, in-partition offset) of its lower median — in-node
    *      rank ⌈n/2⌉ under the total order (proj, id) — and one more
    *      single-stage pass fetches exactly those rows;
    *   4. child assignment is a projection against the level's median
    *      MAP (a plan literal — no join, no broadcast, no shuffle).
    * Driver state is the per-level medians plus per-partition
    * run-lengths — the same order of magnitude as the median broadcast
    * the old spelling already collected driver-side. The next level's
    * range shuffle reads the checkpointed base through the assignment
    * projection, so no per-level assignment checkpoint is needed.
    * Forest.medians comes back as a LOCAL relation: every downstream
    * descent broadcast (rpt_knn and friends, `depth` per query) builds
    * from driver memory instead of running a collect job.
    */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numTrees: Int,
      depth: Int,
      dim: Int
  ): Forest = {
    require(numTrees >= 1 && depth >= 1, "need >= 1 tree and >= 1 level")
    require(depth <= 24,
      s"depth $depth: the 2^depth-row median table must stay broadcastable")
    val spark = df.sparkSession
    val v = df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // tree replication is a per-row explode of a literal sequence — a
    // map, never a join node in the plan
    var asg = v
      .select(
        explode(typedLit((0 until numTrees).toList)).as("tree"),
        col("id"), col("vec"), lit(0L).as("node"))
    // a node holding ≤ 1 point can leave a child EMPTY (its single point
    // routes left: proj <= its own median); empty nodes produce no data
    // median, but descent (and load()'s completeness check) needs a
    // routing value at EVERY node of the complete binary level — so each
    // level's map is completed with +Infinity sentinels on the empty
    // nodes (everything routes left; spill never triggers: |proj−∞| is
    // never < spill). Sentinels cost nothing on healthy corpora: with
    // median splits every node holding ≥ 2 points fills both children,
    // so a complete level has zero empty nodes whenever n ≥ 2^depth.
    val medOut = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Double)]()
    var level = 0
    while (level < depth) {
      val base = asg
        .withColumn("proj", projFor(col("vec"), numTrees, level, dim))
        .repartitionByRange(col("tree"), col("node"), col("proj"), col("id"))
        .sortWithinPartitions(col("tree"), col("node"), col("proj"), col("id"))
        .localCheckpoint()
      val medMap = levelMedians(base, numTrees, level)
      medOut ++= medMap.iterator.map { case ((t, nd), m) => (level, t, nd, m) }
      // routing med as a literal map keyed tree·2^level + node (unique
      // within the level); small levels fold into codegen, big ones
      // (possible under the depth ≤ 24 require) fall back to a broadcast
      // join against the driver-local median rows
      asg =
        if (medMap.size <= 4096) {
          val lit2 = typedLit(medMap.map { case ((t, nd), m) =>
            (t.toLong * (1L << level) + nd) -> m
          })
          base.select(
            col("tree"), col("id"), col("vec"),
            (col("node") * 2 +
              when(
                col("proj") <= element_at(
                  lit2,
                  col("tree").cast("long") * (1L << level) + col("node")),
                0L).otherwise(1L)).as("node"))
        } else {
          import spark.implicits._
          val medsDf = medMap.toSeq
            .map { case ((t, nd), m) => (t, nd, m) }
            .toDF("tree", "node", "med")
          base
            .join(broadcast(medsDf), Seq("tree", "node"))
            .select(
              col("tree"), col("id"), col("vec"),
              (col("node") * 2 +
                when(col("proj") <= col("med"), 0L).otherwise(1L)).as("node"))
        }
      level += 1
    }
    import spark.implicits._
    val mediansDf = medOut.toSeq
      .toDF("level", "tree", "node", "med")
    Forest(asg.select(col("tree"), col("id"), col("node").as("leaf")), mediansDf)
  }

  /** Exact lower medians of one level from the sorted, range-partitioned
    * `base`: per-partition contiguous (tree, node) run-lengths → driver
    * prefix walk → indexed fetch of each node's rank-⌈n/2⌉ row. Returns
    * the COMPLETE level (numTrees·2^level entries), empty nodes filled
    * with the +Infinity sentinel. Exactly two single-stage jobs over the
    * checkpointed base; nothing corpus-sized ever reaches the driver.
    */
  private[graft] def levelMedians(
      base: DataFrame,
      numTrees: Int,
      level: Int
  ): Map[(Int, Long), Double] = {
    val slim = base.select(col("tree"), col("node"), col("proj"))
    // run-lengths per partition, in the partition's (sorted) group order
    val counts: Array[(Int, Array[(Int, Long, Long)])] = slim.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val runs = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
        var curT = 0; var curN = 0L; var cnt = 0L
        it.foreach { r =>
          val t = r.getInt(0); val nd = r.getLong(1)
          if (cnt > 0 && t == curT && nd == curN) cnt += 1
          else {
            if (cnt > 0) runs += ((curT, curN, cnt))
            curT = t; curN = nd; cnt = 1L
          }
        }
        if (cnt > 0) runs += ((curT, curN, cnt))
        Iterator.single((pid, runs.toArray))
      }
      .collect()
    // global order = partitions ascending (range partitions are ordered),
    // runs in partition order; a node's runs are contiguous across
    // partition boundaries. First pass: total count per node.
    val ordered = counts.sortBy(_._1)
    val totals = scala.collection.mutable.HashMap[(Int, Long), Long]()
    ordered.foreach { case (_, runs) =>
      runs.foreach { case (t, nd, c) =>
        val k = (t, nd); totals(k) = totals.getOrElse(k, 0L) + c
      }
    }
    // second pass: locate each node's lower-median row — in-node rank
    // ⌈n/2⌉, i.e. 0-based in-node offset (n+1)/2 − 1 — as (partition,
    // local row offset within that partition)
    val wanted = scala.collection.mutable.HashMap[Int,
      scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]]()
    val seen = scala.collection.mutable.HashMap[(Int, Long), Long]()
    ordered.foreach { case (pid, runs) =>
      var localOff = 0L
      runs.foreach { case (t, nd, c) =>
        val before = seen.getOrElse((t, nd), 0L)
        val tgt = (totals((t, nd)) + 1) / 2 - 1
        if (tgt >= before && tgt < before + c) {
          wanted.getOrElseUpdate(
            pid, scala.collection.mutable.ArrayBuffer()) +=
            ((localOff + (tgt - before), t, nd))
        }
        seen((t, nd)) = before + c
        localOff += c
      }
    }
    val wantedB = slim.sparkSession.sparkContext.broadcast(
      wanted.map { case (p, b) => p -> b.sortBy(_._1).toArray }.toMap)
    val got: Array[((Int, Long), Double)] = slim.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        wantedB.value.get(pid) match {
          case None => Iterator.empty
          case Some(ws) =>
            val out =
              scala.collection.mutable.ArrayBuffer[((Int, Long), Double)]()
            var wi = 0; var off = 0L
            while (wi < ws.length && it.hasNext) {
              val r = it.next()
              if (off == ws(wi)._1) {
                // the offsets come from the run-length pass over the same
                // checkpoint; a row of another node means its order moved
                if (r.getInt(0) != ws(wi)._2 || r.getLong(1) != ws(wi)._3)
                  throw new IllegalStateException(
                    s"RpTree.levelMedians: partition $pid row $off is " +
                      s"(tree ${r.getInt(0)}, node ${r.getLong(1)}), expected " +
                      s"(tree ${ws(wi)._2}, node ${ws(wi)._3}): row order " +
                      "differs between the two passes")
                out += (((ws(wi)._2, ws(wi)._3), r.getDouble(2)))
                wi += 1
              }
              off += 1
            }
            out.iterator
        }
      }
      .collect()
    wantedB.destroy()
    val gotMap = got.toMap
    val out = Map.newBuilder[(Int, Long), Double]
    var t = 0
    while (t < numTrees) {
      var nd = 0L
      while (nd < (1L << level)) {
        out += (t, nd) -> gotMap.getOrElse((t, nd), Double.PositiveInfinity)
        nd += 1L
      }
      t += 1
    }
    out.result()
  }

  /** Persist the forest artifact: the leaf table partitioned by tree
    * (a search's (tree, leaf) candidate join prunes whole trees at the
    * scan) and the tiny median table — the codebook-save analog for the
    * tree family.
    */
  def save(forest: Forest, path: String): Unit = {
    forest.leaves.write.partitionBy("tree").parquet(s"$path/leaves")
    forest.medians.write.parquet(s"$path/medians")
  }

  /** Load a persisted forest, shape-validated: every (level, tree) of a
    * complete depth-D forest must have its median rows (2^level per
    * tree), or descent would silently drop queries at the missing node.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Forest = {
    val leaves = spark.read.parquet(s"$path/leaves")
      .select(col("tree").cast("int").as("tree"), col("id"), col("leaf"))
    val medians = spark.read.parquet(s"$path/medians")
      .select(col("level"), col("tree").cast("int").as("tree"),
        col("node"), col("med"))
    val counts = medians.groupBy(col("level"), col("tree"))
      .agg(count(lit(1)).as("n"))
      .collect()
    require(counts.nonEmpty, s"empty forest at $path")
    counts.foreach { r =>
      val (level, tree, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
      require(n == (1L << level),
        s"forest at $path is incomplete: tree $tree level $level has " +
          s"$n median rows, expected ${1L << level}")
    }
    Forest(leaves, medians)
  }

  /** Descend points through a built forest's median tables: `depth`
    * broadcast-joins against the ≤ numTrees·2^depth-row artifact — the
    * points never shuffle. Routes exactly like [[build]] (`proj <= med`
    * left), so re-assigning the build corpus reproduces its leaf table
    * bit for bit — which also makes this the INCREMENTAL MAINTENANCE
    * path: new points (batch or a stream) land in the leaf the built
    * tree would have given them. Returns (tree, id, leaf).
    */
  def assignPoints(
      points: DataFrame,
      medians: DataFrame, // (level, tree, node, med)
      idCol: String,
      vecCol: String,
      numTrees: Int,
      depth: Int,
      dim: Int
  ): DataFrame = {
    var pn = points
      .select(
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("pvec"))
      .select(
        explode(typedLit((0 until numTrees).toList)).as("tree"),
        col("id"), col("pvec"), lit(0L).as("node"))
    var level = 0
    while (level < depth) {
      pn = pn
        .withColumn("proj", projFor(col("pvec"), numTrees, level, dim))
        .join(
          broadcast(medians
            .filter(col("level") === level)
            .select(col("tree"), col("node"), col("med"))),
          Seq("tree", "node"))
        .select(
          col("tree"), col("id"), col("pvec"),
          (col("node") * 2 +
            when(col("proj") <= col("med"), 0L).otherwise(1L)).as("node"))
      level += 1
    }
    pn.select(col("tree"), col("id"), col("node").as("leaf"))
  }

  /** Spill descent (Liu, Moore & Gray 2004's spill-tree idea applied at
    * query time): like [[assignPoints]], but when a projection falls
    * STRICTLY within `spill` of the split median the point visits BOTH
    * children — the classic tree-family recall lever (a query near a
    * split boundary has true neighbors on both sides). `spill = 0`
    * reduces exactly to the single-path descent. Returns one row per
    * visited (tree, id, leaf) — up to 2^depth leaves per tree in the
    * worst case, typically few; downstream consumers dedupe candidates.
    */
  def assignPointsSpill(
      points: DataFrame,
      medians: DataFrame, // (level, tree, node, med)
      idCol: String,
      vecCol: String,
      numTrees: Int,
      depth: Int,
      dim: Int,
      spill: Double
  ): DataFrame = {
    require(spill >= 0.0, s"spill margin must be >= 0, got $spill")
    var pn = points
      .select(
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("pvec"))
      .select(
        explode(typedLit((0 until numTrees).toList)).as("tree"),
        col("id"), col("pvec"), lit(0L).as("node"))
    var level = 0
    while (level < depth) {
      val main = when(col("proj") <= col("med"), 0L).otherwise(1L)
      pn = pn
        .withColumn("proj", projFor(col("pvec"), numTrees, level, dim))
        .join(
          broadcast(medians
            .filter(col("level") === level)
            .select(col("tree"), col("node"), col("med"))),
          Seq("tree", "node"))
        .select(
          col("tree"), col("id"), col("pvec"),
          explode(
            when(abs(col("proj") - col("med")) < spill,
              array(col("node") * 2, col("node") * 2 + 1))
              .otherwise(array(col("node") * 2 + main))).as("node"))
      level += 1
    }
    pn.select(col("tree"), col("id"), col("node").as("leaf"))
  }

  /** [[assignPointsSpill]] with the visit REQUIREMENT carried: each
    * (tree, id, leaf) row reports `req` — the largest |proj − med| among
    * the path's secondary (spilled) branchings, or −1.0 when the path
    * took only primary children. Under [[assignPointsSpill]]'s strict
    * per-branching rule (both children iff |proj − med| < spill), a row
    * is reached at margin s exactly when every secondary branching on
    * its path had |proj − med| < s, i.e. when `req < s` — so ONE descent
    * at the widest margin serves every narrower margin by a filter
    * instead of its own descent (smaller margins' frontiers are subsets
    * level by level). Same broadcast-join-per-level plan; the frontier
    * is the widest margin's, which the multi-margin caller pays anyway.
    */
  def assignPointsSpillReq(
      points: DataFrame,
      medians: DataFrame, // (level, tree, node, med)
      idCol: String,
      vecCol: String,
      numTrees: Int,
      depth: Int,
      dim: Int,
      spill: Double
  ): DataFrame = {
    require(spill >= 0.0, s"spill margin must be >= 0, got $spill")
    var pn = points
      .select(
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("pvec"))
      .select(
        explode(typedLit((0 until numTrees).toList)).as("tree"),
        col("id"), col("pvec"), lit(0L).as("node"), lit(-1.0).as("req"))
    var level = 0
    while (level < depth) {
      val main = when(col("proj") <= col("med"), 0L).otherwise(1L)
      val delta = abs(col("proj") - col("med"))
      pn = pn
        .withColumn("proj", projFor(col("pvec"), numTrees, level, dim))
        .join(
          broadcast(medians
            .filter(col("level") === level)
            .select(col("tree"), col("node"), col("med"))),
          Seq("tree", "node"))
        .select(
          col("tree"), col("id"), col("pvec"),
          explode(
            when(delta < spill,
              array(
                struct((col("node") * 2 + main).as("node"),
                  col("req").as("req")),
                struct((col("node") * 2 + (lit(1L) - main)).as("node"),
                  greatest(col("req"), delta).as("req"))))
              .otherwise(array(
                struct((col("node") * 2 + main).as("node"),
                  col("req").as("req"))))).as("nr"))
        .select(
          col("tree"), col("id"), col("pvec"),
          col("nr.node").as("node"), col("nr.req").as("req"))
      level += 1
    }
    pn.select(col("tree"), col("id"), col("node").as("leaf"), col("req"))
  }

  /** [[knn]] with spill descent: the candidate union grows with every
    * boundary-straddling split, recall monotone in `spill` (candidate
    * set is a superset — RpTreeSpec gates it).
    */
  def knnSpill(
      forest: Forest,
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      numTrees: Int,
      depth: Int,
      dim: Int,
      spill: Double
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    import graft.functions.TopKAgg.bestPer
    val q = queries.select(
      col(qidCol).cast("long").as("qid"),
      col(qvecCol).cast("array<double>").as("qvec"))
    val qn = assignPointsSpill(
      queries, forest.medians, qidCol, qvecCol, numTrees, depth, dim, spill)
      .select(col("tree"), col("id").as("qid"), col("leaf").as("node"))
    val v = vecs.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val cand = qn
      .select(col("tree"), col("qid"), col("node").as("leaf"))
      .join(forest.leaves, Seq("tree", "leaf"))
      .select(col("qid"), col("id"))
      .distinct()
    val pairs = cand
      .join(v, "id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"),
        l2SqFast(col("qvec"), col("vec")).as("dist"))
    bestPer(pairs, Seq("qid"), col("dist"), "id", k)
      .select(
        col("qid").as("query_id"),
        col("id").as("neighbor_id"),
        col("dist"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Recall-vs-spill OPERATING CURVE — the forest family's measured
    * tuning knob, symmetric to ivf_recall_curve (nprobe) and
    * hnsw_ef_curve (efSearch): for each spill margin, spill-descend the
    * queries, union leaf candidates, exact-rerank top-k, and score
    * Recall@k against the exact brute-force truth. One shared truth and
    * ONE shared descent: the widest margin's req-tagged walk
    * ([[assignPointsSpillReq]]) contains every narrower margin's
    * frontier, so each margin is a `req < s` gate over one scored
    * candidate table — the corpus never re-shuffles per margin, and the
    * distance pass is paid once for the whole curve.
    *
    * @return (spill, n_queries, mean_recall), one row per margin
    */
  def spillRecallCurve(
      forest: Forest,
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      numTrees: Int,
      depth: Int,
      dim: Int,
      spills: Seq[Double]
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    import graft.functions.TopKAgg.topK
    import graft.queries.Q.davg
    require(spills.nonEmpty, "need at least one spill margin")
    val q = queries.select(
      col(qidCol).cast("long").as("qid"),
      col(qvecCol).cast("array<double>").as("qvec"))
    val v = vecs.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    // ONE descent at the widest margin, req-tagged
    // ([[assignPointsSpillReq]]): a leaf meeting is reachable at margin s
    // exactly when req < s, and a candidate doc's requirement is the MIN
    // req over its (tree, leaf) meetings — so the narrower margins'
    // candidate sets, distances, and heaps all come from the same scored
    // table via null-gated TopK heaps (TopKAgg skips nulls) instead of
    // each margin paying its own descent + join + distance pass.
    val sMax = spills.max
    val cand = assignPointsSpillReq(
      queries, forest.medians, qidCol, qvecCol, numTrees, depth, dim, sMax)
      .select(col("tree"), col("id").as("qid"), col("leaf"), col("req"))
      .join(forest.leaves, Seq("tree", "leaf"))
      .groupBy(col("qid"), col("id"))
      .agg(min(col("req")).as("req"))
    val heapCols = spills.zipWithIndex.map { case (s, i) =>
      topK(when(col("req") < s, col("dist")), col("id"), k).as(s"tk$i")
    }
    val approx = cand
      .join(v, "id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"), col("req"),
        l2SqFast(col("qvec"), col("vec")).as("dist"))
      .groupBy(col("qid"))
      .agg(heapCols.head, heapCols.tail: _*)
      .select(
        col("qid"),
        explode(array(spills.zipWithIndex.map { case (s, i) =>
          struct(lit(s).as("spill"), col(s"tk$i.id").as("ids"))
        }: _*)).as("x"))
      .select(col("x.spill").as("spill"), col("qid"),
        explode(col("x.ids")).as("id"))
    val truth = BruteForceKNN
      .knn(q, v.select(col("id").as("neighbor_id"), col("vec").as("bv")),
        k, qidCol = "qid", qvecCol = "qvec")
      .select(col("qid"), col("neighbor_id").as("id"))
    approx
      .join(truth.withColumn("hit", lit(1L)), Seq("qid", "id"), "left")
      .groupBy(col("spill"), col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / k.toDouble).as("recall"))
      .groupBy(col("spill"))
      .agg(count(lit(1)).as("n_queries"), davg(col("recall")).as("mean_recall"))
  }

  /** Forest kNN: descend every tree with the query, union the leaf
    * buckets, exact-rerank. Returns (query_id, neighbor_id, dist, rnk).
    */
  def knn(
      forest: Forest,
      vecs: DataFrame, // raw corpus — read only by the rerank
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      numTrees: Int,
      depth: Int,
      dim: Int
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    import graft.functions.TopKAgg.bestPer
    val q = queries.select(
      col(qidCol).cast("long").as("qid"),
      col(qvecCol).cast("array<double>").as("qvec"))
    val qn = assignPoints(
      queries, forest.medians, qidCol, qvecCol, numTrees, depth, dim)
      .select(col("tree"), col("id").as("qid"), col("leaf").as("node"))
    val v = vecs.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val cand = qn
      .select(col("tree"), col("qid"), col("node").as("leaf"))
      .join(forest.leaves, Seq("tree", "leaf"))
      .select(col("qid"), col("id"))
      .distinct() // forest union: a point in the query's leaf of 2 trees scores once
    val pairs = cand
      .join(v, "id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"),
        l2SqFast(col("qvec"), col("vec")).as("dist"))
    bestPer(pairs, Seq("qid"), col("dist"), "id", k)
      .select(
        col("qid").as("query_id"),
        col("id").as("neighbor_id"),
        col("dist"),
        col("rnk").cast("long").as("rnk"))
  }
}
