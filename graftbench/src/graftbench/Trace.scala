package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one job group (one traced call). */
final class ExecCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var planMs = 0L
  var scanRows = 0L
}

/** One span: a call the benchmark made into a layer of the program. */
final case class Span(
    item: Int,
    layer: String,
    name: String,
    group: String,
    startNs: Long,
    endNs: Long,
    inItem: Boolean,
    codegenClasses: Long,
    gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls plus a `SparkListener` and a
  * `QueryExecutionListener` keyed by the job group set per call.
  *
  * Untraced items pay only a closure call: `call` runs its body bare
  * unless [[active]] is set. Spans stay in memory until [[spans]] is
  * read at exit.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var seq = 0L
  private var item = -1
  var active = false
  /** False while the reads after an item run: they are timed apart. */
  var inItem = true

  // listener state, written on the listener-bus threads
  private val byGroup = new ConcurrentHashMap[String, ExecCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, Long, Long)]()
  private val qeExec = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, Long]())

  private def counters(g: String): ExecCounters = byGroup.computeIfAbsent(g, _ => new ExecCounters)

  private val listener = new SparkListener {
    private def groupOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id")))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      groupOf(e.properties).foreach { g =>
        val c = counters(g)
        c.synchronized(c.jobs += 1)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      groupOf(e.properties).foreach { g =>
        stageGroup.put(e.stageInfo.stageId, g)
        val c = counters(g)
        c.synchronized(c.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val m = e.taskMetrics
        val c = counters(g)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.diskBytesSpilled
            c.input += m.inputMetrics.bytesRead
            c.output += m.outputMetrics.bytesWritten
          }
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case e: SparkListenerSQLExecutionEnd =>
        // the ended execution's QueryExecution links the query
        // listener's records to an execution id, hence a job group;
        // the accessor is private[sql], so it is read reflectively
        val qe = e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]
        if (qe != null) qeExec.put(qe, e.executionId)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val scanned = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      queries.add((qe, planMs, scanned))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Register the listeners for one traced item. */
  def start(itemIndex: Int): Unit = {
    item = itemIndex
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    active = true
  }

  /** Deliver every queued event, then detach the listeners. */
  def stop(): Unit = {
    active = false
    drainBus()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  private def drainBus(): Unit = {
    // LiveListenerBus is private[spark]; its JVM method is public
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Run `body` as one call into `layer`; traced items record a span
    * and tag every Spark job it starts with the span's job group.
    */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      seq += 1
      val group = s"graftbench-$item-$seq"
      sc.setJobGroup(group, s"$layer.$name", interruptOnCancel = false)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val gc0 = Tracer.gcMs()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        buf += Span(item, layer, name, group, t0, t1, inItem,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0, Tracer.gcMs() - gc0)
      }
    }

  def spans: Seq[Span] = buf.toSeq

  /** Engine counters per job group; call after the last [[stop]]. */
  def execByGroup: Map[String, ExecCounters] = {
    queries.asScala.foreach { case (qe, planMs, scanned) =>
      Option(qeExec.get(qe)).flatMap(id => Option(execGroup.get(id))).foreach { g =>
        val c = counters(g)
        c.planMs += planMs
        c.scanRows += scanned
      }
    }
    queries.clear()
    qeExec.clear()
    byGroup.asScala.toMap
  }
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Share of host CPU used by processes other than this JVM, from
  * `/proc/stat` and the JVM's own CPU time: a noise flag only.
  */
final class HostCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def read(): (Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong) finally src.close()
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    (f.sum, f.sum - idle, os.getProcessCpuTime)
  }
  private val (total0, busy0, self0) = read()

  /** Other processes' busy share of all CPU time since construction. */
  def otherFrac(): Double = {
    val (total1, busy1, self1) = read()
    val hz = 100.0 // USER_HZ on Linux; guest time is already inside user
    val total = (total1 - total0) / hz
    val other = (busy1 - busy0) / hz - (self1 - self0) / 1e9
    if (total <= 0) 0.0 else math.max(0.0, other) / total
  }
}
