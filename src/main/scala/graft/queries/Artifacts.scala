package graft.queries

import java.util.concurrent.ConcurrentHashMap

import graft.operators.DistributedHnsw

/** The one process-wide memo of the query surface's shared artifacts:
  * deterministic builds (HNSW shards, the NN-Descent graph, IVF index
  * dirs, fitted models) that several declared queries read, so each
  * query measures its own stage over a prebuilt artifact — the
  * reference's build/search split. Keyed by (artifact name, sf dir);
  * no caller rewrites a table dir within one JVM, so the dir string
  * identifies the input.
  *
  * Build-once: concurrent callers of one key share a single build.
  * Each key holds an [[Entry]] whose `lazy val` runs the build, so a
  * build may itself call [[get]] for another key (sharedWedge →
  * sharedGraph); nothing runs inside a map's mapping function. A build
  * that throws leaves no entry behind, and the next caller retries.
  *
  * The cold-build queries (hnsw_build, knn_graph, rpt_leaf_stats)
  * [[drop]] their artifacts first and rebuild on every run.
  */
object Artifacts {

  private final class Entry(build: () => Any) {
    lazy val value: Any = build()
  }

  private val entries = new ConcurrentHashMap[(String, String), Entry]()

  /** The artifact `name` for `dir`, running `build` on the first call
    * only, however many callers arrive at once.
    */
  def get[T](name: String, dir: String)(build: => T): T = {
    val key = (name, dir)
    val fresh = new Entry(() => build)
    val entry = Option(entries.putIfAbsent(key, fresh)).getOrElse(fresh)
    try entry.value.asInstanceOf[T]
    catch {
      case e: Throwable =>
        entries.remove(key, entry)
        throw e
    }
  }

  /** Remove the entry for (`name`, `dir`), if any, and release the
    * executor storage it holds: an HNSW build's edge table, shard caches
    * and resident searchers, or a `.cache()`d frame. Checkpointed frames are reclaimed
    * by the ContextCleaner once unreachable.
    */
  def drop(name: String, dir: String): Unit =
    Option(entries.remove((name, dir))).foreach(e => release(e.value))

  private def release(v: Any): Unit = v match {
    case s: DistributedHnsw.Shards =>
      s.edges.unpersist(blocking = false)
      s.unpersist()
    case (s: DistributedHnsw.Shards, _) => release(s)
    case df: org.apache.spark.sql.Dataset[_] => df.unpersist()
    case _ =>
  }
}
