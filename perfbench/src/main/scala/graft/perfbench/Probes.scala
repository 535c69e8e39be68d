package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.anomaly.{Anomaly, AnomalyDetectionStrategy}
import graft.core.{Analyzer, State, StateLoader, StatePersister}
import graft.repository.{AnalysisResult, MetricsRepository, MetricsRepositoryMultipleResultsLoader, ResultKey}
import graft.runners.AnalyzerContext

/** Engine counters gathered by listeners the benchmark registers itself:
  * jobs, tasks, executor CPU, input records, shuffle and spill bytes from
  * task ends; cached/checkpointed RDD block bytes from block updates;
  * analysis + optimization + planning time from each query's tracker.
  */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val planNs = new AtomicLong
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]
  private val storageNow = new AtomicLong
  private val storagePeak = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val size = info.memSize + info.diskSize
      val prev = if (size == 0L) blocks.remove(key) else blocks.put(key, size)
      val now = storageNow.addAndGet(size - (if (prev == null) 0L else prev.longValue))
      storagePeak.accumulateAndGet(now, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlanning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlanning(qe)

  private def addPlanning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    planNs.addAndGet(ms * 1000000L)
  }

  /** Starts a new peak window at the current storage level. */
  def resetStoragePeak(): Unit = storagePeak.set(storageNow.get)
  def storagePeakBytes: Long = storagePeak.get
}

/** One reading of every counter the benchmark attributes to an op. */
final case class Counters(
    jobs: Long, tasks: Long, taskCpuNs: Long, inputRecords: Long,
    shuffleWriteBytes: Long, spillBytes: Long, planNs: Long,
    codegenCompiles: Long, gcMs: Long, jitMs: Long, stealTicks: Long,
    driverCpuNs: Long) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, tasks - o.tasks, taskCpuNs - o.taskCpuNs,
    inputRecords - o.inputRecords, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, planNs - o.planNs,
    codegenCompiles - o.codegenCompiles, gcMs - o.gcMs, jitMs - o.jitMs,
    stealTicks - o.stealTicks, driverCpuNs - o.driverCpuNs)
}

object Counters {
  private val threads = ManagementFactory.getThreadMXBean
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Clock ticks per second of /proc/stat (USER_HZ, 100 on Linux). */
  val TicksPerSecond = 100.0

  /** Host-wide stolen CPU ticks summed over all CPUs; 0 where /proc/stat
    * is unreadable or has no steal column.
    */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
          .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }

  def read(p: EngineProbe): Counters = Counters(
    p.jobs.get, p.tasks.get, p.taskCpuNs.get, p.inputRecords.get,
    p.shuffleWriteBytes.get, p.spillBytes.get, p.planNs.get,
    org.apache.spark.perfbench.SparkInternals.codegenCompiles,
    gcs.map(g => math.max(0L, g.getCollectionTime)).sum,
    if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
    stealTicks(),
    threads.getCurrentThreadCpuTime)

  def install(spark: SparkSession): EngineProbe = {
    val p = new EngineProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}

/** Spans (name, start, end, parent) around calls into each layer, plus
  * per-op gauges. Kept in memory; written out when the run ends. Disabled
  * tracers run the body with no bookkeeping.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val gauges = ArrayBuffer.empty[(Int, String, Double)]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = idx :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(idx) = Span(op, name, t0, System.nanoTime(), parent)
        stack = stack.tail
      }
    }

  def gauge(name: String, value: Double): Unit =
    if (enabled) gauges += ((op, name, value))

  /** Seconds spent in spans called `name` during `op` (0 when none). */
  def seconds(op: Int, name: String): Double =
    spans.iterator.filter(s => s != null && s.op == op && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def gaugeValue(op: Int, name: String): Double =
    gauges.iterator.filter(g => g._1 == op && g._2 == name).map(_._3).sum

  def toJson: String = spans.filter(_ != null).map { s =>
    s"""{"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  final case class Span(op: Int, name: String, startNs: Long, endNs: Long, parent: Int)
}

/** Layer-boundary wrappers: each delegates to the library object and
  * records a span around the call. */
final class TimedLoader(inner: StateLoader, tr: Tracer) extends StateLoader {
  override def load[S <: State[_]](analyzer: Analyzer[S, _]): Option[S] =
    tr.span("core.state_load_s")(inner.load(analyzer))
}

final class TimedPersister(inner: StatePersister, tr: Tracer) extends StatePersister {
  override def persist[S <: State[_]](analyzer: Analyzer[S, _], state: S): Unit =
    tr.span("core.state_persist_s")(inner.persist(analyzer, state))
}

final class TimedRepository(inner: MetricsRepository, tr: Tracer) extends MetricsRepository {
  override def save(resultKey: ResultKey, analyzerContext: AnalyzerContext): Unit =
    tr.span("repository.save_s")(inner.save(resultKey, analyzerContext))
  override def loadByKey(resultKey: ResultKey): Option[AnalyzerContext] =
    tr.span("repository.load_s")(inner.loadByKey(resultKey))
  override def load(): MetricsRepositoryMultipleResultsLoader =
    new TimedResultsLoader(inner.load(), tr)
}

final class TimedResultsLoader(inner: MetricsRepositoryMultipleResultsLoader, tr: Tracer)
    extends MetricsRepositoryMultipleResultsLoader {
  override def withTagValues(t: Map[String, String]): MetricsRepositoryMultipleResultsLoader =
    new TimedResultsLoader(inner.withTagValues(t), tr)
  override def forAnalyzers(a: Seq[graft.core.AnyAnalyzer]): MetricsRepositoryMultipleResultsLoader =
    new TimedResultsLoader(inner.forAnalyzers(a), tr)
  override def after(d: Long): MetricsRepositoryMultipleResultsLoader =
    new TimedResultsLoader(inner.after(d), tr)
  override def before(d: Long): MetricsRepositoryMultipleResultsLoader =
    new TimedResultsLoader(inner.before(d), tr)
  override def get(): Seq[AnalysisResult] = tr.span("repository.load_s")(inner.get())
}

final class TimedStrategy(inner: AnomalyDetectionStrategy, tr: Tracer)
    extends AnomalyDetectionStrategy {
  override def detect(dataSeries: Vector[Double],
      searchInterval: (Int, Int)): Seq[(Int, Anomaly)] =
    tr.span("anomaly.detect_s")(inner.detect(dataSeries, searchInterval))
}
