package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** One benchmark run: set up a workload, drive it in a closed loop with one
  * client thread for a fixed time, and write every raw observation to a
  * JSON file. `perfbench/run.py` derives the metrics from that file.
  *
  * {{{
  * Main --workload <query_suite|ann_ingest> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * The loop runs whole passes of the workload's op mix: it starts a new
  * pass only while the time is not up, so it always ends on a pass
  * boundary and every run, on every commit, times the same mix of ops
  * however far a faster program gets. With `--trace 1` it runs an even
  * number of passes and traces each op position in every other pass, so
  * every op is measured both traced (spans and Spark events) and
  * untraced, which gives the tracing overhead from within the run.
  */
object Main {

  final case class Options(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String)

  private def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val clock = new Clock
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(opts.work).toAbsolutePath
    Files.createDirectories(work)
    val conf = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
    val spark = conf.foldLeft(SparkSession.builder().withExtensions(new GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exit =
      try {
        val run = new Run(spark, new Tracer(spark, clock), opts, work)
        val w: Workload = opts.workload match {
          case "query_suite" => new QuerySuite(run)
          case "ann_ingest"  => new AnnIngest(run)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        val json = run.execute(w, conf :+ ("cpus" -> cpus.toString))
        Files.writeString(Paths.get(opts.out), json)
        0
      } catch {
        case t: Throwable =>
          System.err.println(s"perfbench: run failed: $t")
          t.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(exit)
  }
}

/** What a workload hands the client loop for one op. `call` is the timed
  * part; `check` runs after the clock stops and returns the failed check,
  * if any, plus fields recorded with the op.
  */
final case class Op(
    kind: String, group: String, call: () => Any,
    check: Any => (Option[String], Seq[(String, String)]),
    prepare: () => Unit = () => ())

trait Workload {
  /** Input properties, recorded in the result as provenance. */
  def inputs: Seq[(String, String)]
  def setup(): Unit
  /** Ops in one pass of the op mix; op `i` is at position `i % pass`. */
  def pass: Int
  def op(i: Int): Op
  /** Work after the timed loop (final checks); returns extra result fields. */
  def finish(): Seq[(String, String)] = Nil
  /** Parquet inputs the sources layer resolves: (dir, table names). */
  def tables: (String, Seq[String])
  /** Per-op counters a workload can only measure from outside the call
    * (traced runs only).
    */
  def tracedFields(op: Op, result: Any): Seq[(String, String)] = Nil
}

final class Run(val spark: SparkSession, val tracer: Tracer, opts: Main.Options, work: Path) {
  val seed: Long = opts.seed
  val dataDir: Path = work.resolve("data")

  private val ops = mutable.ArrayBuffer[String]()

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  /** Runs set-up, the timed loop and the final checks; returns the raw record. */
  def execute(w: Workload, conf: Seq[(String, String)]): String = {
    val clock = tracer.clock
    val setupT0 = clock.now
    if (opts.trace) tracer.start()
    span("client", "setup")(w.setup())
    val setupT1 = clock.now
    val resolve = if (opts.trace) resolveTimings(w.tables) else Nil
    tracer.stop()
    val loopT0 = clock.now
    val deadline = loopT0 + (opts.seconds * 1e6).toLong
    val passes = if (opts.trace) 2 else 1
    var i = 0
    while (clock.now < deadline || i % (passes * w.pass) != 0) {
      // traced runs trace op positions in a checkerboard over pass pairs:
      // each position once traced and once untraced per pair
      runOp(w, w.op(i), i, traced = opts.trace && (i % w.pass + i / w.pass) % 2 == 0)
      i += 1
    }
    val loopT1 = clock.now
    val fin = w.finish()
    val ev = if (opts.trace) Some(tracer.events) else None
    Json.obj(
      "workload" -> Json.str(opts.workload),
      "seed" -> seed.toString,
      "seconds" -> Json.num(opts.seconds),
      "trace" -> opts.trace.toString,
      "pass" -> w.pass.toString,
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }: _*),
      "inputs" -> Json.obj(w.inputs: _*),
      "setup" -> Json.obj("t0" -> setupT0.toString, "t1" -> setupT1.toString),
      "loop" -> Json.obj("t0" -> loopT0.toString, "t1" -> loopT1.toString),
      "ops" -> Json.arr(ops),
      "final" -> Json.obj(fin: _*),
      "resolve_ms" -> Json.arr(resolve.map(Json.num)),
      "spans" -> Json.arr(tracer.spans.map(s => Json.obj(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "t0" -> s.t0.toString, "t1" -> s.t1.toString))),
      "jobs" -> Json.arr(ev.toSeq.flatMap(_.jobs).map(j => Json.obj(
        "id" -> j.id.toString, "span" -> j.span.toString,
        "t0" -> j.t0.toString, "t1" -> j.t1.toString,
        "stages" -> Json.arr(j.stages.map(_.toString))))),
      "stages" -> Json.arr(ev.toSeq.flatMap(_.stages.values).map(s => Json.obj(
        "id" -> s.id.toString, "attempt" -> s.attempt.toString,
        "t0" -> s.t0.toString, "t1" -> s.t1.toString, "tasks" -> s.tasks.toString,
        "scheduler_delay_ms" -> s.schedulerDelayMs.toString,
        "executor_run_ms" -> s.runMs.toString, "executor_cpu_ns" -> s.cpuNs.toString,
        "gc_ms" -> s.gcMs.toString, "spill_bytes" -> s.spillBytes.toString,
        "peak_exec_mem_bytes" -> s.peakExecMem.toString,
        "shuffle_read_bytes" -> s.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "shuffle_fetch_wait_ms" -> s.fetchWaitMs.toString))),
      "plans" -> Json.arr(ev.toSeq.flatMap(_.plans).map(p => Json.obj(
        "t0" -> p.t0.toString, "t1" -> p.t1.toString,
        "analysis_ms" -> p.analysisMs.toString,
        "optimization_ms" -> p.optimizationMs.toString,
        "planning_ms" -> p.planningMs.toString, "scans" -> p.scans.toString))),
      "progress" -> Json.arr(ev.toSeq.flatMap(_.progress).map(p => Json.obj(
        "t" -> p.t.toString, "batch" -> p.batch.toString, "rows" -> p.rows.toString,
        "durations" -> Json.obj(p.durations.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*)))))
  }

  /** `Q.t` on each input table, three times each, traced. */
  private def resolveTimings(t: (String, Seq[String])): Seq[Double] = {
    val (dir, names) = t
    for (_ <- 1 to 3; n <- names) yield {
      val t0 = System.nanoTime()
      span("sources", s"Q.t:$n")(graft.queries.Q.t(spark, dir, n))
      (System.nanoTime() - t0) / 1e6
    }
  }

  private def runOp(w: Workload, op: Op, i: Int, traced: Boolean): Unit = {
    op.prepare()
    val clock = tracer.clock
    if (traced) tracer.start()
    val before = if (traced) tracer.counters() else Map.empty[String, Long]
    val spanId = if (traced) tracer.nextSpanId else 0
    val t0 = clock.now
    var result: Any = null
    var error: Option[String] = None
    span("client", s"op:${op.kind}") {
      try result = op.call()
      catch { case t: Throwable => error = Some(s"${t.getClass.getName}: ${t.getMessage}") }
      if (traced) tracer.drain()
    }
    val t1 = clock.now
    val after = if (traced) tracer.counters() else Map.empty[String, Long]
    tracer.stop()
    val (failed, fields) =
      if (error.isDefined) (error, Nil)
      else
        try op.check(result)
        catch { case t: Throwable => (Some(s"check threw ${t.getClass.getName}: ${t.getMessage}"), Nil) }
    val extra = if (traced && error.isEmpty) w.tracedFields(op, result) else Nil
    val counters = after.map { case (k, v) => k -> (v - before(k)).toString }.toSeq
    ops += Json.obj((Seq(
      "i" -> i.toString, "kind" -> Json.str(op.kind), "group" -> Json.str(op.group),
      "t0" -> t0.toString, "t1" -> t1.toString, "traced" -> traced.toString,
      "span" -> spanId.toString, "ok" -> failed.isEmpty.toString,
      "error" -> failed.map(Json.str).getOrElse("null"),
      "counters" -> Json.obj(counters: _*)) ++ fields ++ extra): _*)
  }
}

object Run {
  /** Seeded Fisher-Yates shuffle: the same seed and stream give the same order. */
  def shuffle[T](xs: Seq[T], seed: Long, stream: Long): Seq[T] = {
    val a = xs.toBuffer
    val r = Data.rng(seed, stream, 0)
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Total bytes and regular-file count under a directory (0 if absent). */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
}

/** Just enough JSON writing for the raw record; values arrive pre-encoded. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
