package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Per-layer metrics of the traced items of one run. Times are
  * seconds per traced item; `exec.*` sums the engine counters of every
  * call of the item and of the reads after it; shares divide a layer's
  * span time inside the item by item wall.
  */
object Layers {

  /** Layer spans reported as `<layer>.<name>_s`. */
  val TimedCalls: Seq[(String, String, String)] = Seq(
    ("mql.parse_s", "mql", "parse"),
    ("mql.compile_s", "mql", "compile"),
    ("store.find_s", "store", "find"),
    ("temporal.history_s", "temporal", "history"),
    ("temporal.last_version_s", "temporal", "last_version"),
    ("graphs.pagerank_s", "graphs", "pagerank"),
    ("graphs.label_prop_s", "graphs", "label_prop"),
    ("graphs.kcore_s", "graphs", "kcore"),
    ("etl.load_s", "etl", "load"),
    ("etl.prep_s", "etl", "prep"),
    ("model.wrap_s", "model", "wrap"),
    ("store.flush_s", "store", "flush"),
    ("store.compact_s", "store", "compact"),
    ("store.read_current_s", "store", "read_current"),
    ("store.read_asof_s", "store", "read_asof"))

  val ShareLayers: Seq[String] = Seq("mql", "store", "temporal", "graphs", "pins", "etl", "model")

  /** Calls whose scans count toward rows scanned per row returned. */
  private val StoreReads = Set("count", "scan", "distinct", "history", "last_version",
    "read_current", "read_asof")

  def compute(
      tracer: Tracer,
      facts: collection.Map[String, Double],
      traced: Seq[Double],
      untraced: Seq[Double],
      slots: Int,
      otherCpu: Double): Seq[(String, Double, String)] = {
    val spans = tracer.spans
    val exec = tracer.execByGroup
    val items = spans.map(_.item).distinct.size.max(1)
    val wall = traced.sum.max(1e-9)
    def per(x: Double): Double = x / items
    def secs(layer: String, name: String): Double =
      spans.filter(s => s.layer == layer && s.name == name).map(_.seconds).sum
    def ex(s: Span): ExecCounters = exec.getOrElse(s.group, new ExecCounters)
    def sumEx(ss: Seq[Span])(f: ExecCounters => Double): Double = ss.map(s => f(ex(s))).sum
    val mb = 1048576.0

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    TimedCalls.foreach { case (metric, layer, name) => out += ((metric, per(secs(layer, name)), "s")) }

    val reads = spans.filter(s => (s.layer == "store" || s.layer == "temporal") && StoreReads(s.name))
    val matched = facts("store.rows_matched")
    out += (("store.rows_scanned_per_row_returned",
      if (matched > 0) sumEx(reads)(_.scanRows.toDouble) / matched else 0.0, "ratio"))

    val graphSpans = spans.filter(_.layer == "graphs")
    val rounds = facts("graphs.rounds")
    out += (("graphs.jobs_per_round",
      if (rounds > 0) sumEx(graphSpans)(_.jobs.toDouble) / rounds else 0.0, "count"))
    out += (("pins.live_blocks", per(facts("pins.live_blocks")), "count"))
    out += (("pins.released", per(facts("pins.released")), "count"))
    out += (("pins.storage_mb", per(facts("pins.storage_bytes")) / mb, "MB"))

    val writes = spans.filter(s => s.layer == "store" && (s.name == "flush" || s.name == "compact"))
    val userBytes = facts("etl.user_bytes")
    out += (("store.bytes_written_per_user_byte",
      if (userBytes > 0) sumEx(writes)(_.output.toDouble) / userBytes else 0.0, "ratio"))
    out += (("store.files_written", per(facts("store.files_written")), "count"))
    out += (("store.history_files", facts("store.history_files"), "count"))

    out += (("exec.jobs", per(sumEx(spans)(_.jobs.toDouble)), "count"))
    out += (("exec.stages", per(sumEx(spans)(_.stages.toDouble)), "count"))
    out += (("exec.tasks", per(sumEx(spans)(_.tasks.toDouble)), "count"))
    out += (("exec.plan_s", per(sumEx(spans)(_.planMs / 1e3)), "s"))
    out += (("exec.codegen_classes", per(spans.map(_.codegenClasses.toDouble).sum), "count"))
    out += (("exec.run_s", per(sumEx(spans)(_.runMs / 1e3)), "s"))
    out += (("exec.cpu_s", per(sumEx(spans)(_.cpuNs / 1e9)), "s"))
    out += (("exec.gc_s", per(spans.map(_.gcMs / 1e3).sum), "s"))
    out += (("exec.floor_s", per(spans.map(s => s.seconds - ex(s).runMs / 1e3 / slots).sum), "s"))
    out += (("exec.shuffle_write_mb", per(sumEx(spans)(_.shuffleWrite / mb)), "MB"))
    out += (("exec.shuffle_read_mb", per(sumEx(spans)(_.shuffleRead / mb)), "MB"))
    out += (("exec.spill_mb", per(sumEx(spans)(_.spill / mb)), "MB"))
    out += (("exec.input_mb", per(sumEx(spans)(_.input / mb)), "MB"))
    out += (("exec.output_mb", per(sumEx(spans)(_.output / mb)), "MB"))
    out += (("host.other_cpu_frac", otherCpu, "frac"))

    val itemSpans = spans.filter(_.inItem)
    ShareLayers.foreach { l =>
      out += ((s"share.$l", itemSpans.filter(_.layer == l).map(_.seconds).sum / wall, "frac"))
    }
    out += (("share.exec_plan", sumEx(itemSpans)(_.planMs / 1e3) / wall, "frac"))
    val change =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else (traced.size / traced.sum) / (untraced.size / untraced.sum) - 1
    out += (("trace.items_per_s_change", change, "frac"))
    out.toSeq
  }

  /** Write every span with its engine counters, one JSON object each. */
  def writeSpans(path: String, tracer: Tracer): Unit = {
    val exec = tracer.execByGroup
    val rows = tracer.spans.map { s =>
      val c = exec.getOrElse(s.group, new ExecCounters)
      Map[String, Any](
        "item" -> s.item, "layer" -> s.layer, "name" -> s.name, "group" -> s.group,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_s" -> s.seconds, "in_item" -> s.inItem,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "plan_ms" -> c.planMs,
        "codegen_classes" -> s.codegenClasses, "gc_ms" -> s.gcMs, "run_ms" -> c.runMs,
        "cpu_ns" -> c.cpuNs, "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
        "input_bytes" -> c.input, "output_bytes" -> c.output, "scan_rows" -> c.scanRows)
    }
    Files.write(Paths.get(path), rows.map(Json.render).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
