package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A check on a program output failed: the item counts as failed. */
final class CheckFailed(msg: String) extends Exception(msg)

/** One benchmark workload. Items run in a closed loop: one client
  * thread, one outstanding item. Indices below 0 are warm-up items.
  */
trait Workload {
  /** Generate the seeded inputs for `items` timed items, persist them,
    * compute expectations.
    */
  def setup(items: Int): Unit
  def warmupItems: Int
  /** Run the untimed warm-up items, checking every output; a warm-up
    * failure aborts the run rather than timing a broken program.
    */
  def warmup(): Unit = for (i <- -warmupItems until 0) { item(i); reads(i); check(i) }
  /** Timed items per run: `--seconds` over a nominal item cost, so two
    * commits compared on the same `--seconds` do the same work.
    */
  def timedItems(seconds: Int): Int
  /** The timed region of item `i`. */
  def item(i: Int): Unit
  /** Reads issued after an item and timed on their own; seconds. */
  def reads(i: Int): Option[Double] = None
  /** Compare item `i`'s outputs with the expectations; untimed. */
  def check(i: Int): Unit
  /** Per-layer facts of traced items (rows matched, rounds, pins). */
  val facts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** Workload-only end-to-end metrics: name -> (value, unit). */
  def extraEndToEnd(): Seq[(String, Double, String)] = Nil
  /** SHA-256 of the generated inputs. */
  def inputDigest: String
}

object Main {
  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      work: String,
      tiny: Boolean,
      injectFail: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("scale", "full") == "tiny", m.getOrElse("inject-fail", "-1").toInt)
  }

  /** The fixed engine configuration of every run. */
  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // status-store retention caps: live heap must not grow with the
      // number of items a run completes
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    def log(msg: String): Unit = System.err.println(
      f"[graftbench] +${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2fs $msg")
    log("jvm up")
    val spark = session(nproc, a.work)
    log("session up")
    val tracer = new Tracer(spark)
    val w: Workload = a.workload match {
      case "temporal_query" => new TemporalQuery(spark, a.seed, a.tiny, a.work, tracer)
      case "graph_iterate" => new GraphIterate(spark, a.seed, a.tiny, a.work, tracer)
      case "scd2_ingest" => new Scd2Ingest(spark, a.seed, a.tiny, a.work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // a traced run doubles the items so that its untraced half matches
    // an untraced run of the same --seconds
    val timed = w.timedItems(a.seconds) * (if (a.trace) 2 else 1)
    w.setup(timed)
    log("inputs ready")
    w.warmup()
    log(s"${w.warmupItems} warm-up items done")

    val latencies = mutable.ArrayBuffer.empty[Double]
    val readLat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    val untracedLat = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var timedNs = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val host = new HostCpu
    val firstItemMs = System.currentTimeMillis()
    while (attempted < timed) {
      val i = attempted
      attempted += 1
      // traced runs alternate: odd items traced, even items bare, so
      // one run measures its own tracing overhead
      val traced = a.trace && i % 2 == 1
      if (traced) tracer.start(i)
      val t0 = System.nanoTime()
      val ok =
        try {
          if (i == a.injectFail) throw new CheckFailed(s"injected failure at item $i")
          w.item(i)
          true
        } catch { case e: Exception => failures += s"item $i: $e"; false }
      val dt = System.nanoTime() - t0
      timedNs += dt
      val passed = ok && {
        try {
          tracer.inItem = false
          try w.reads(i).foreach(readLat += _) finally tracer.inItem = true
          w.check(i)
          true
        }
        catch { case e: Exception => failures += s"item $i: $e"; false }
      }
      if (traced) tracer.stop()
      if (passed) {
        latencies += dt / 1e9
        (if (traced) tracedLat else untracedLat) += dt / 1e9
      } else failed += 1
    }
    log(s"window done: $attempted items")
    val otherCpu = host.otherFrac()
    val completed = attempted - failed
    val itemsPerS = completed / (timedNs / 1e9)

    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    val e2e = mutable.ArrayBuffer.empty[(String, Double, String)]
    val samples = mutable.Map.empty[String, Int]
    val tail = if (latencies.isEmpty) None else Stats.tail(latencies.toSeq)
    if (latencies.nonEmpty) {
      e2e += (("latency_s.p50", Stats.quantile(latencies.toSeq, 0.5), "s"))
      samples("latency_s.p50") = latencies.size
      tail.foreach { case (_, v) =>
        e2e += (("latency_s.tail", v, "s")); samples("latency_s.tail") = latencies.size
      }
    }
    e2e += (("items_per_s", itemsPerS, "1/s"))
    e2e += (("setup_s", (firstItemMs - jvmStartMs) / 1000.0, "s"))
    e2e += (("heap_live_mb", heapMb, "MB"))
    e2e += (("error_rate", failed.toDouble / attempted, "frac"))
    if (readLat.nonEmpty) {
      e2e += (("read_latency_s.p50", Stats.quantile(readLat.toSeq, 0.5), "s"))
      samples("read_latency_s.p50") = readLat.size
    }
    e2e ++= w.extraEndToEnd()

    val layers =
      if (!a.trace) Seq.empty
      else Layers.compute(tracer, w.facts, tracedLat.toSeq, untracedLat.toSeq, nproc, otherCpu)
    if (a.trace) Layers.writeSpans(s"${a.work}/spans.json", tracer)
    spark.stop()

    val out = Map[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "nproc" -> nproc,
      "trace" -> a.trace,
      "closed_loop" -> "1 client thread, 1 outstanding item",
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.take(5).toSeq,
      "warmup_items" -> w.warmupItems,
      "timed_window_s" -> timedNs / 1e9,
      "latencies_s" -> latencies.toSeq,
      "read_latencies_s" -> readLat.toSeq,
      "host.other_cpu_frac" -> Json.num(otherCpu),
      "input_sha256" -> w.inputDigest,
      "samples" -> samples.toMap,
      "latency_s.tail_percentile" -> tail.map(_._1),
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map[String, Any]("value" -> Json.num(v), "unit" -> u) }.toMap,
      "per_layer" -> layers.map { case (n, v, u) => n -> Map[String, Any]("value" -> Json.num(v), "unit" -> u) }.toMap)
    println("GRAFTBENCH_RESULT " + Json.render(out))
  }
}

object Stats {
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest standard percentile with at least ten samples beyond
    * it, as (percentile, value); None when fewer than 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))
}

/** JSON for the result line and the span file. */
object Json {
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .build()

  /** A measured number; NaN and infinities become null. */
  def num(d: Double): Option[Double] = Some(d).filterNot(x => x.isNaN || x.isInfinite)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
