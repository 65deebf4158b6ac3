package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark makes into a layer. `op` is the workload's
  * operation counter when the span opened; `parent` is the enclosing span
  * on the same thread (0 = none). */
final class Span(val id: Long, val parent: Long, val name: String, val layer: String,
                 val op: Long, var startNs: Long = 0L, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task-level totals over the traced jobs. */
final class ExecTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var scanBytes, shuffleWrite, shuffleRead, spill = 0L
}

/** The traced run's recorder: spans around every call into a layer, a
  * SparkListener that totals jobs, stages and task metrics and attributes
  * each job to the innermost open span (through a local property), a
  * QueryExecutionListener for Catalyst's phase times, and the store's
  * filesystem counters (`CountingLocalFileSystem`). Spans stay in memory
  * until the run ends. An untraced run never builds one of these. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private var nextId = 0L
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  val spans = mutable.ArrayBuffer.empty[Span]

  // listener state, guarded by `this`
  private val spanLayer = mutable.Map.empty[Long, String]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val collectJobs = mutable.Set.empty[Int]
  var all = new ExecTotals
  var collectJobCount, collectResultBytes, aqeUpdates = 0L
  val catalystMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)

  private def layerOf(job: Int): String =
    jobSpan.get(job).flatMap(spanLayer.get).getOrElse("untraced")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach(s => jobSpan(e.jobId) = s.toLong)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      val layer = layerOf(e.jobId)
      if (layer != Trace.Audit) all.jobs += 1
      // a job's result stage is named after its call site ("collect at …");
      // the benchmark's own checksum collect runs inside an "exec" span
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      if (layer != "exec" && layer != Trace.Audit && Trace.CollectSite.findFirstIn(site).isDefined) {
        collectJobs += e.jobId
        collectJobCount += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val layer = stageJob.get(e.stageInfo.stageId).map(layerOf).getOrElse("untraced")
      if (layer != Trace.Audit) all.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val job = stageJob.get(e.stageId)
        if (!job.map(layerOf).contains(Trace.Audit)) {
          all.tasks += 1
          all.runMs += m.executorRunTime
          all.cpuNs += m.executorCpuTime
          all.gcMs += m.jvmGCTime
          all.scanBytes += m.inputMetrics.bytesRead
          all.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          all.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          all.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        if (job.exists(collectJobs)) collectResultBytes += m.resultSize
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => Trace.this.synchronized { aqeUpdates += 1 }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        if (catalystMs.contains(phase)) catalystMs(phase) += s.durationMs
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` as a span of `layer`; jobs it starts are attributed to it.
    * An audit span's filesystem calls are not counted. */
  def span[T](name: String, layer: String, op: Long)(body: => T): T = {
    val audit = layer == Trace.Audit
    val stack = open.get
    val s = synchronized {
      nextId += 1
      val sp = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name, layer, op)
      spanLayer(sp.id) = layer
      spans += sp
      sp
    }
    val prevProp = sc.getLocalProperty(SpanKey)
    open.set(s :: stack)
    sc.setLocalProperty(SpanKey, s.id.toString)
    if (audit) CountingLocalFileSystem.paused = true
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      if (audit) CountingLocalFileSystem.paused = false
      open.set(stack)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  /** Forget everything recorded so far (the warm-up), keeping the listeners. */
  def reset(): Unit = {
    drain()
    synchronized {
      spans.clear(); jobSpan.clear(); stageJob.clear(); collectJobs.clear()
      all = new ExecTotals
      collectJobCount = 0; collectResultBytes = 0; aqeUpdates = 0
      catalystMs.keys.foreach(catalystMs(_) = 0L)
    }
  }

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Self time per layer: each span's duration minus its direct children's. */
  def selfMs: Map[String, Double] = synchronized {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Wall times (ms) of the spans with this name, in start order. */
  def spanMs(name: String): Seq[Double] = synchronized { spans.filter(_.name == name).map(_.ms).toSeq }

  /** Jobs attributed to spans named `name` (innermost span only). */
  def jobsIn(name: String): Long = synchronized {
    val ids = spans.filter(_.name == name).map(_.id).toSet
    jobSpan.values.count(ids)
  }

  def writeDump(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** Layer of the benchmark's own bookkeeping inside a timed loop; its jobs
    * and filesystem calls stay out of the per-layer totals. */
  val Audit = "audit"
  private val CollectSite = "^(collect|head|take|first|collectAsList|toLocalIterator) at ".r

  /** The store's filesystem counters (zero unless the traced run installed
    * `CountingLocalFileSystem`). */
  final case class Fs(readOps: Long, writeOps: Long, bytesWritten: Long) {
    def -(o: Fs): Fs = Fs(readOps - o.readOps, writeOps - o.writeOps, bytesWritten - o.bytesWritten)
  }

  def fs(): Fs = Fs(CountingLocalFileSystem.readOps.get, CountingLocalFileSystem.writeOps.get,
    CountingLocalFileSystem.bytesWritten.get)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
