package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by spans and Spark events: microseconds since the run
  * began. Spark reports event times in epoch milliseconds, which map onto
  * the same axis.
  */
final class Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Long = (System.nanoTime() - originNs) / 1000L
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000L
}

final case class Span(
    id: Int, parent: Int, layer: String, name: String, t0: Long, t1: Long)

/** Benchmark-side tracing. Spans are kept in memory and written out when
  * the run ends. While `on` is false every call is a plain pass-through,
  * and no listener is registered with Spark.
  */
final class Tracer(spark: SparkSession, val clock: Clock) {
  /** Local property that parents a Spark job to the span that submitted it. */
  val SpanProperty = "perfbench.span"

  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var listening = false

  def on: Boolean = listening

  /** The id the next [[span]] call will get. */
  def nextSpanId: Int = nextId + 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = clock.now
      try body
      finally {
        val t1 = clock.now
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, layer, name, t0, t1)
      }
    }

  /** The recorded events of every traced op; created on first use so an
    * untraced run never builds it.
    */
  lazy val events = new Listeners(clock)

  /** Registers the Spark, execution and streaming listeners. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(events.spark)
    spark.listenerManager.register(events.executions)
    spark.streams.addListener(events.streaming)
    listening = true
  }

  /** Unregisters them once the bus has delivered everything queued. */
  def stop(): Unit = if (on) {
    drain()
    sc.removeSparkListener(events.spark)
    spark.listenerManager.unregister(events.executions)
    spark.streams.removeListener(events.streaming)
    listening = false
  }

  def drain(): Unit = org.apache.spark.GraftSparkInternals.drainListenerBus(sc)

  /** Process-wide counters that are read, not listened to. */
  def counters(): Map[String, Long] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "codegen_compile_ns" -> CodeGenerator.compileTime,
    "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount)
}

final class JobRec(val id: Int, val span: Int, val t0: Long, val stages: Seq[Int]) {
  var t1: Long = -1L
}

final class StageRec(val id: Int, val attempt: Int) {
  var t0 = -1L
  var t1 = -1L
  var tasks = 0L
  var schedulerDelayMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
}

final case class PlanRec(
    t0: Long, t1: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, scans: Int)

final case class ProgressRec(
    t: Long, batch: Long, rows: Long, durations: Map[String, Long])

/** The listeners one traced run registers. */
final class Listeners(clock: Clock) {
  val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobById = mutable.HashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  val plans = mutable.ArrayBuffer[PlanRec]()
  val progress = mutable.ArrayBuffer[ProgressRec]()

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toInt).getOrElse(0)
      val j = new JobRec(e.jobId, span, clock.fromEpochMs(e.time), e.stageIds)
      jobs += j
      jobById(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_.t1 = clock.fromEpochMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      i.submissionTime.foreach(t => s.t0 = clock.fromEpochMs(t))
      i.completionTime.foreach(t => s.t1 = clock.fromEpochMs(t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val s = stage(e.stageId, e.stageAttemptId)
        s.tasks += 1
        val duration = info.finishTime - info.launchTime
        // the Spark UI's definition of scheduler delay
        s.schedulerDelayMs += math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def count(p: SparkPlan): Int =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }.size
  }

  val executions: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val starts = phases.values.map(_.startTimeMs)
      val ends = phases.values.map(_.endTimeMs)
      val scans = try Scans.count(qe.executedPlan) catch { case _: Throwable => 0 }
      val rec = PlanRec(
        if (starts.isEmpty) -1L else clock.fromEpochMs(starts.min),
        if (ends.isEmpty) -1L else clock.fromEpochMs(ends.max),
        ms("analysis"), ms("optimization"), ms("planning"), scans)
      synchronized { plans += rec }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val t = clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      synchronized { progress += ProgressRec(t, p.batchId, p.numInputRows, d) }
    }
  }
}
