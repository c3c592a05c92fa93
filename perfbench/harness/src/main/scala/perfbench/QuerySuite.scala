package perfbench

import graft.SparkEntry
import graft.queries._

/** `query_suite`: each op runs one declared query over generated tables
  * with the test tables' schemas at sf0.01 size, and counts its rows. The
  * driver-overhead workload: source resolution, Catalyst, codegen, job
  * count and driver gaps dominate, the kernels do little.
  *
  * The sample always holds the ROADMAP's slow targets, plus a seeded pick
  * of one query from each query module that has no target, so every
  * module is timed. A pass is the targets in their declared order, less
  * the `untimed` ones, then the picks in seeded order; the timed loop runs
  * whole passes. The picks are drawn with the fixed `sampleSeed`, not the
  * run's seed, which drives the tables: picks differ in cost by seconds,
  * so picks drawn per run would move `ops_per_s` by seed, while a fixed
  * sample makes every run, of every seed and commit, time the same
  * queries. Set-up runs the whole sample once, so codegen and the
  * queries' memoised artifacts are warm and their cost lands in set-up;
  * each op's count must equal its set-up count.
  */
final class QuerySuite(run: Run) extends Workload {
  import QuerySuite._

  private val dir = run.dataDir.resolve("sf0.01").toString
  private val registry = SparkEntry.queries
  private val expected = scala.collection.mutable.HashMap[String, Long]()

  private val sample: IndexedSeq[String] = {
    val targetModules = targets.map(moduleOf).toSet
    val picks = modules.zipWithIndex.collect {
      case ((m, qs), k) if !targetModules(m) =>
        Run.shuffle(qs.map(_.name).sorted, sampleSeed, 100L + k).head
    }
    (targets ++ Run.shuffle(picks, sampleSeed, 99L)).toIndexedSeq
  }
  private val order = sample.filterNot(untimed.contains)

  def pass: Int = order.size

  def inputs: Seq[(String, String)] = Seq(
    "scale" -> Json.num(scale),
    "tables" -> Json.obj(Data.sf01Rows.map { case (t, _) => t -> Data.rows(t, scale).toString }: _*),
    "targets" -> Json.arr(targets.map(Json.str)),
    "untimed" -> Json.arr(untimed.map(Json.str)), "sample_seed" -> sampleSeed.toString,
    "setup_threads" -> warmers.toString,
    "sample" -> Json.arr(sample.map(n => Json.obj("name" -> Json.str(n), "module" -> Json.str(moduleOf(n))))))

  def tables: (String, Seq[String]) = (dir, Data.sf01Rows.map(_._1))

  def setup(): Unit = {
    run.span("client", "generate")(Data.writeTables(run.spark, dir, run.seed, scale))
    // the set-up pass runs `warmers` queries at a time: it only has to
    // compile and memoise, and its cost is mostly single-threaded
    // compilation that would otherwise leave cores idle
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmers)
    try run.span("queries", "warm") {
      val counts = sample.map(n => n -> pool.submit(() => registry(n)(run.spark, dir).count()))
      counts.foreach { case (n, f) => expected(n) = f.get() }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  def op(i: Int): Op = {
    val n = order(i % order.size)
    Op("query", moduleOf(n),
      call = () => {
        val df = run.span("queries", "construct")(registry(n)(run.spark, dir))
        run.span("queries", "action")(df.count())
      },
      check = r => {
        val got = r.asInstanceOf[Long]
        (if (got == expected(n)) None else Some(s"$n counted $got rows, set-up counted ${expected(n)}"),
          Seq("query" -> Json.str(n), "rows" -> got.toString))
      })
  }
}

object QuerySuite {
  /** The ROADMAP's slow queries: the codegen-heavy tiers (direction 2b),
    * the carried-over dedup items, the job-heavy graph tiers (2c) and the
    * HNSW build.
    */
  val targets: Seq[String] = Seq(
    "eval_scan_agreement", "ann_full", "eval_hierarchy_agreement",
    "dedup_clusters_distributed", "dedup_tfidf_pairs", "dedup_threshold_curve",
    "knn_graph_diameter", "knn_graph_louvain_q", "knn_graph_betweenness",
    "knn_graph_search", "hnsw_build")

  /** Targets that set-up runs and checks but the timed pass leaves out:
    * two of the four job-heavy graph tiers, whose character the other two
    * keep in the pass, so that a run stays within its time budget.
    */
  val untimed: Seq[String] = Seq("knn_graph_diameter", "knn_graph_louvain_q")

  val sampleSeed = 1L
  val warmers = 4

  /** Row counts relative to the sf0.1 test tables: sf0.01. The queries
    * cost mostly fixed driver work, so this keeps their character while a
    * run (set-up pass included) stays within its time budget.
    */
  val scale = 0.1

  val modules: Seq[(String, Seq[GQuery])] = Seq(
    "RelationalQueries" -> RelationalQueries.all, "EventQueries" -> EventQueries.all,
    "VectorQueries" -> VectorQueries.all, "PQQueries" -> PQQueries.all,
    "SQQueries" -> SQQueries.all, "BQQueries" -> BQQueries.all,
    "HnswQueries" -> HnswQueries.all, "TextQueries" -> TextQueries.all,
    "IvfQueries" -> IvfQueries.all, "MultimodalQueries" -> MultimodalQueries.all)

  private lazy val moduleByQuery: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def moduleOf(q: String): String = moduleByQuery.getOrElse(q, "unknown")
}
