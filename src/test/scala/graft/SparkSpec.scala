package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` on a new directory `<prefix><random>` under the JVM's
    * temp dir, deleted with everything in it when `body` returns or
    * throws.
    */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  /** Jobs and submitted stages of `body`, the shuffle records each of
    * its map tasks wrote and the names of the RDDs its stages ran,
    * counted by a listener that keeps only events of a job group set
    * for the call.
    */
  def jobsOf(body: => Unit): (Int, Int, Seq[Long], Set[String]) = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID()}"
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val groupJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) { groupJobs.add(e.jobId); started.incrementAndGet() }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groupJobs.contains(e.jobId)) ended.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) {
          stages.add(e.stageInfo.stageId)
          e.stageInfo.rddInfos.foreach(r => names.add(r.name))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null &&
          e.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          written.add(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "spec job count", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      // the bus is asynchronous: wait until every counted job has ended
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((started.get == 0 || ended.get < started.get) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(started.get > 0 && ended.get == started.get, "listener bus did not drain")
      (started.get, stages.size, written.asScala.toSeq, names.asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }
}
