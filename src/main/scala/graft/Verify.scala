package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated gate names (builder-local
    // iteration); the driver always invokes with exactly two args.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Overlap independent gates (optimization guide §2.6): the gates
    // are dominated by driver/scheduler latency at sf0.01, not CPU, so
    // a small pool of submitting threads back-fills the executor idle
    // gaps between one gate's jobs with another gate's tasks. Outputs
    // are unchanged — every gate still writes its own parquet dir and
    // its result is partition-count- and schedule-independent (that is
    // exactly what the oracle hash pins). Pins registration is atomic,
    // so concurrent gates never release each other's pins. FIFO
    // scheduling keeps the earlier gate's tasks first, which is the
    // back-fill behaviour we want. SPARK_GRAFT_VERIFY_THREADS=1
    // restores the serial walk.
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4")
      .toInt.max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    // a gate that throws in the pool is retried SERIALLY after the
    // walk (below) — a transient failure (GC pressure, a scheduling
    // hiccup) must not silently shrink the correctness artifact: the
    // driver enumerates result dirs, so a swallowed failure reads as a
    // dropped query, not an error
    val passed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val running = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val gates = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def runGate(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        tag: String): Boolean = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-gate wall seconds on stderr: the budget observable
        // that drives the twin-rotation policy (the driver's 4-min
        // Verify window — rotate the slowest bit-equal twins first)
        System.err.println(
          f"[verify] $name$tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name$tag failed: ${e.getMessage}")
        false
      }
    }
    gates.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          running.add(name)
          try if (runGate(name, fn, "")) passed.add(name)
          finally running.remove(name)
        }
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(2, java.util.concurrent.TimeUnit.HOURS)) {
      // stop the pool BEFORE the serial retries: a retry must never
      // race a live pool task writing the same result dir. Cancelled
      // and never-started gates join the retry list below; a gate
      // still running after the grace period is not retried at all.
      pool.shutdownNow()
      spark.sparkContext.cancelAllJobs()
      pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES)
      Files.writeString(Paths.get(s"$outDir/INCOMPLETE"),
        s"gate pool timed out after 2 h; still running: ${running.toArray.mkString(",")}\n")
      System.err.println("[verify] TIMED OUT after 2 h — pool stopped, artifact marked INCOMPLETE")
    }
    val stillFailed = gates.keys.toSeq.sorted.filterNot(passed.contains)
      .filter(name => running.contains(name) || !runGate(name, gates(name), " (retry)"))
    if (stillFailed.nonEmpty)
      System.err.println(
        s"[verify] GATES FAILED after retry: ${stillFailed.mkString(",")} — " +
          "the correctness artifact is missing these result dirs")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
