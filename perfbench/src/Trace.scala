package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One call into the program: `op` is the operation it belongs to,
  * `parent` the enclosing span's id (-1 at the top). */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program, kept in memory
  * and written out when the run ends. While a span is open its name is
  * the Spark job group, so [[SparkCounters]] attributes every job and
  * task to the innermost open span. Disabled, a span is just its body. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var op = 0
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]

  def group(name: String): String = s"$op/$name"

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + open.size
      val parent = open.headOption.fold(-1)(_._1)
      open = (id, name, System.nanoTime()) :: open
      sc.setJobGroup(group(name), name, interruptOnCancel = false)
      try body
      finally {
        val (_, _, t0) = open.head
        open = open.tail
        open.headOption match {
          case Some((_, outer, _)) => sc.setJobGroup(group(outer), outer, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Durations in seconds of every span called `name`. */
  def seconds(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.seconds).toSeq

  /** Self time per span name: each span's duration minus the part its
    * direct children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }

  /** Spans as JSON lines, and the self time per span name as one JSON
    * object. */
  def write(spansFile: java.io.File, selfFile: java.io.File): Unit = {
    val w = new java.io.PrintWriter(spansFile, "UTF-8")
    try spans.sortBy(_.id).foreach(s => w.println(
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
    finally w.close()
    val body = selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    java.nio.file.Files.writeString(selfFile.toPath, s"{$body}\n")
  }
}

final class Counts {
  val jobs, tasks, cpuNs, shuffleBytes, bytesRead, recordsRead = new AtomicLong
  val peakTaskMem = new AtomicLong
}

/** One finished SQL action: its planning time (analysis + optimization
  * + planning phases) and the action's own duration. */
final case class Action(name: String, planMs: Double, execMs: Double)

/** Task and job totals per Spark job group, plus the planning-phase
  * times of every finished SQL action. Listener events arrive
  * asynchronously; [[settle]] waits until every started job has ended
  * and no event has arrived for a short quiet window. */
final class SparkCounters extends SparkListener with QueryExecutionListener {

  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val started, ended, events = new AtomicLong
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()

  /** SQL actions finished since the last drain (call after [[settle]]). */
  def drainActions(): Seq[Action] = Iterator.continually(actions.poll()).takeWhile(_ != null).toSeq

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
  def counts(group: String): Counts = byGroup.computeIfAbsent(group, _ => new Counts)
  def groups: Iterable[(String, Counts)] = byGroup.asScala

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    counts(g).jobs.incrementAndGet()
    started.incrementAndGet(); events.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet(); events.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val c = counts(stageGroup.getOrDefault(e.stageId, ""))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      c.peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    actions.add(Action(funcName, planMs, durationNs / 1e6))
    events.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events.incrementAndGet()

  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val now = events.get()
      if (now == last && started.get() == ended.get()) quiet += 1 else quiet = 0
      last = now
    }
  }
}

/** Heap and collector readings for one measured interval. */
final class JvmMeter {
  private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  private var gc0 = 0L

  def start(): Unit = { pools.foreach(_.resetPeakUsage()); gc0 = gcMs }
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
  def peakHeapMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
