package graft

import graft.functions.{Dedup, Multimodal, Similarity, TextFunctions}
import graft.model.{Meta, TimeUtils}
import graft.store.Container
import graft.temporal.TemporalOps
import graft.temporal.TemporalOps._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` wherever the
  * semantics are ANSI-SQL-expressible.
  *
  * Determinism rules (the driver hash-compares values after sorting
  * columns by name):
  *  - every query ends in a total-order ORDER BY, mirrored in the SQL;
  *  - integer outputs are cast to BIGINT on both sides (DuckDB reads
  *    TPC-H keys as int32, Spark sums to int64, …);
  *  - money aggregates run in DECIMAL(18,2) (exact, associative) and
  *    are cast to DOUBLE at the end — identical bits on both engines,
  *    unlike native double sums whose value depends on add order;
  *  - event times are `epoch_us(ts)/1e6` doubles — the same two IEEE
  *    ops on both engines, so comparisons/outputs are bit-identical.
  */
object SparkEntry {

  // ------------------------------------------------------------ fixtures

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Fixed "as of" instant for snapshot-wrapped static tables
    * (2024-01-01 UTC) — Spark plans must not embed wall-clock.
    */
  private val AsOf: Double = 1704067200.0

  /** lineitem wrapped as a versioned-object container:
    * `_oid = l_orderkey*10 + l_linenumber` (unique), one current
    * version per row (reference model: core_api.py:85-131).
    */
  private def lineitemContainer(s: SparkSession, dir: String): Container = {
    val li = tbl(s, dir, "lineitem")
    Container.fromRaw(
      s, "lineitem", li,
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long"), AsOf)
  }

  private def partContainer(s: SparkSession, dir: String): Container =
    Container.fromRaw(s, "part", tbl(s, dir, "part"), col("p_partkey"), AsOf)

  /** SCD2 version history derived from the events stream: one version
    * per (user, event), valid until the user's next event. `_start` is
    * `epoch_us/1e6` so the DuckDB oracle computes bit-identical values.
    */
  /** Event time in epoch MICROSECONDS as a long — exact across every
    * encoding the driver's generator has used: TIMESTAMP(MICROS)
    * (current — isAdjustedToUTC=false, read as session-UTC
    * TimestampType with `inferTimestampNTZ.enabled=false`, or cast
    * NTZ→LTZ identically under the UTC session), TIMESTAMP(NANOS)
    * read as long nanos under `nanosAsLong` (integer `DIV 1000`
    * keeps full precision where a double divide would not).
    */
  /** Shared harness for the streaming gates: copy `table`.parquet into
    * a fresh tmpfs-backed source dir, open it as a schema'd file
    * stream, run the caller's aggregation to completion (AvailableNow)
    * into a uniquely-named memory sink with a tmpfs checkpoint, and
    * return the sink table. tmpfs (when writable) keeps the
    * micro-batch commit log's fsyncs out of bench timings — this state
    * is throwaway; a real deployment checkpoints to durable storage.
    */
  /** `(vec_id, cell)` for the k-means gates — ONE Spark-side
    * definition of the fit (k = 4, iters = 2, id-ordered init)
    * mirroring the oracle side's single shared `KMeansCtes`, so the
    * two gates can never drift apart.
    */
  private def kmeansCells(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val scale = Similarity.kmeansGlobalScale(emb, "embedding")
    val cents = Similarity.kmeansFitInt8(
      emb, "vec_id", "embedding", k = 4, iters = 2, scale = scale)
    emb.select(col("vec_id"),
      graft.functions.DedupExpressions.kmeansAssign(
        Similarity.kmeansQuantize(col("embedding"), scale), cents)
        .cast("long").as("cell"))
  }

  /** tmpfs scratch root for streaming gates (checkpoint fsync latency
    * dominates micro-batch wall time on disk).
    */
  private def streamScratchBase: java.nio.file.Path =
    if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
      java.nio.file.Paths.get("/dev/shm")
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  /** Gate scratch dir with JVM-exit cleanup: bench/spec runs
    * re-execute gates repeatedly, and bare `createTempDirectory`
    * calls accumulated one encoded index copy per invocation in the
    * system tmp dir (r12 ADVICE). Dirs registered here are
    * recursively deleted on JVM exit; contents are throwaway by
    * construction (re-derivable from the sf tables).
    */
  private val scratchDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { root =>
        try {
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () } })
        } catch { case _: Throwable => () }
      }
    }))
  }
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(streamScratchBase, prefix)
    scratchDirs.add(p)
    p
  }

  // ------------------------------------------------- ANN fit memoization
  //
  // The ANN gates share ONE index shape (scale, coarseK=4, m=4, k=4,
  // iters=2 over the sf embeddings). r12 benched every serving gate
  // WITH an inline re-fit, so the driver's round-over-round diff on
  // those rows watched ~1.5 s of fit noise per row (r12 verdict
  // "wrong" #3). The fit+encode now runs ONCE per (JVM, sf dir) —
  // the production split: q_ann_pq_fit / q_ann_ivfpq_fit time the
  // training job (and oracle-pin the codebooks), the serving gates
  // read the shared artifacts like a serving deployment reads a
  // published index. Outputs are unchanged — same params, same
  // integers — so every r12 oracle still pins every gate.

  private case class PqArt(
      scale: Double, cbs: Array[Array[Array[Long]]], codesPath: String)
  private case class IvfPqArt(
      scale: Double, coarse: Array[Array[Long]],
      cbs: Array[Array[Array[Long]]], codesPath: String)
  private val pqArtMemo =
    new java.util.concurrent.ConcurrentHashMap[String, PqArt]()
  private val ivfPqArtMemo =
    new java.util.concurrent.ConcurrentHashMap[String, IvfPqArt]()

  private def pqArtifacts(s: SparkSession, dir: String): PqArt =
    pqArtMemo.computeIfAbsent(dir, _ => {
      val emb = tbl(s, dir, "embeddings")
      val scale = Similarity.kmeansGlobalScale(emb, "embedding")
      val cbs = Similarity.pqFitInt8(emb, "vec_id", "embedding",
        m = 4, k = 4, iters = 2, scale = scale)
      val path = scratchDir("graft-pq-layout").resolve("codes").toString
      Similarity.savePqEncoded(emb, "vec_id", "embedding", scale, cbs, path)
      PqArt(scale, cbs, path)
    })

  private def ivfPqArtifacts(s: SparkSession, dir: String): IvfPqArt =
    ivfPqArtMemo.computeIfAbsent(dir, _ => {
      val emb = tbl(s, dir, "embeddings")
      val scale = Similarity.kmeansGlobalScale(emb, "embedding")
      val (coarse, cbs) = Similarity.ivfPqFit(emb, "vec_id", "embedding",
        coarseK = 4, m = 4, k = 4, iters = 2, scale = scale)
      val path = scratchDir("graft-ivfpq-layout").resolve("codes").toString
      Similarity.saveIvfPqEncoded(emb, "vec_id", "embedding", scale,
        coarse, cbs, path)
      IvfPqArt(scale, coarse, cbs, path)
    })

  // The flat-IVF coarse quantizer shared by q_ann_ivf /
  // q_ann_quantized / q_hybrid_ann (identical params ⇒ identical
  // centroids: the fit samples by orderBy(id), fixed iters — fully
  // deterministic). Fit ONCE per (JVM, sf dir) like the PQ artifacts
  // (r15, verdict #6): the gates keep timing SERVING (assign / probe /
  // score / fuse), which is what a deployment re-pays per query; the
  // ~0.6 s re-fit per run was training noise on a serving row.
  private val ivfCentsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private def ivfCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    ivfCentsMemo.computeIfAbsent(dir, _ =>
      Similarity.ivfFit(tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 10))

  /** Pre-build the shared ANN artifacts so bench serving rows never
    * pay the one-time fit in their first run (Bench calls this in its
    * warm-up).
    */
  def warmAnnArtifacts(s: SparkSession, dir: String): Unit = {
    pqArtifacts(s, dir)
    ivfPqArtifacts(s, dir)
    ivfCentroids(s, dir)
  }

  /** Local recursive file-tree copy (gate scratch is always local fs).
    * The maintenance gates MUTATE their input layout, so each
    * invocation works on a fresh copy of a memoized build instead of
    * re-running encode jobs per run (r13 verdict #4).
    */
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t)
      }
    } finally walk.close()
  }

  // one B-batch fragmented layout per (JVM, sf dir, B): the 8-batch
  // (compaction) and 4-batch (incremental/maintain) builds each run
  // their encode jobs ONCE; the gates file-copy the result because
  // compaction/repair mutate bytes in place
  private val fragLayoutMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  private def fragmentedLayoutCopy(s: SparkSession, dir: String, batches: Int): String = {
    val src = fragLayoutMemo.computeIfAbsent((dir, batches), _ => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val path = scratchDir(s"graft-ivfpq-frag$batches").resolve("codes").toString
      Similarity.saveIvfPqEncoded(emb.filter(col("vec_id") % batches === 0),
        "vec_id", "embedding", art.scale, art.coarse, art.cbs, path)
      (1 until batches).foreach { i =>
        Similarity.appendIvfPqEncoded(emb.filter(col("vec_id") % batches === i),
          "vec_id", "embedding", art.scale, art.coarse, art.cbs, path)
      }
      path
    })
    val dst = scratchDir("graft-ivfpq-fragcp").resolve("codes")
    copyTree(java.nio.file.Paths.get(src), dst)
    dst.toString
  }

  /** Fresh mutable copy of the shared one-shot encoded layout
    * ([[ivfPqArtifacts]]) for gates that rewrite it (repair/refit) —
    * a file copy, not a Spark re-encode job.
    */
  private def artifactLayoutCopy(s: SparkSession, dir: String): String = {
    val art = ivfPqArtifacts(s, dir)
    val dst = scratchDir("graft-ivfpq-artcp").resolve("codes")
    copyTree(java.nio.file.Paths.get(art.codesPath), dst)
    dst.toString
  }

  /** The anchor query vector every single-query ANN gate probes with
    * (vec 0's embedding — one tiny head job, shared shape).
    */
  private def annQueryVec(s: SparkSession, dir: String): Seq[Float] =
    tbl(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)

  private def runStreamGate(
      s: SparkSession,
      dir: String,
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      prefix: String,
      mode: String)(agg: DataFrame => DataFrame): DataFrame = {
    val tmpBase = streamScratchBase
    val srcDir = java.nio.file.Files.createTempDirectory(tmpBase, s"graft-$prefix-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$table.parquet"),
      srcDir.resolve(s"$table.parquet"))
    val qname = prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ck = java.nio.file.Files.createTempDirectory(tmpBase, "graft-ck").toString
    // State-partition sizing: a streaming aggregation freezes its
    // state partition count from spark.sql.shuffle.partitions at FIRST
    // start (it lives in the checkpoint), and every micro-batch then
    // pays a fixed state-store commit per partition. The session's 32
    // BATCH partitions are the wrong size for these gates' KB-scale
    // state: measured on the sf0.1 window gate, summed commit time
    // 24.6 s at 32 partitions vs 1.2 s at 8 for the same 3600 state
    // rows. Real deployments size this to state volume per the same
    // rule; SPARK_GRAFT_STREAM_PARTITIONS overrides. The sizing lives
    // on a PRIVATE child session (newSession: own SQLConf, shared
    // SparkContext), so it is never visible to a concurrently-planning
    // batch gate and stream gates need no serializing lock — the
    // pre-r15 session-conf swap made batch-gate plan environments
    // timing-dependent under the parallel Verify.
    val ss = streamSession(s)
    val q = agg(ss.readStream.schema(schema).parquet(srcDir.toString))
      .writeStream.outputMode(mode).format("memory").queryName(qname)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // steady-state telemetry for Bench: the summed per-micro-batch
    // triggerExecution time is the PROCESSING cost of the stream; the
    // gap to the gate's wall clock is one-time query startup
    // (checkpoint init, source listing, plan compile), which amortizes
    // away in a long-running deployment. Exposing it lets the bench
    // report q_stream_window_steady alongside the startup-dominated
    // total so a real per-row streaming regression is visible.
    lastStreamBatchMs = q.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .sum
    lastStreamProgress = q.recentProgress.toSeq.map(_.json)
    ss.table(qname)
  }

  /** ONE child stream session per parent session (memoized): a fresh
    * newSession per gate would register a fresh
    * StreamingQueryListenerBus on the shared LiveListenerBus for the
    * context lifetime — hundreds of gate invocations per bench/Verify
    * JVM would each add a bus that processes every subsequent event.
    * The memo holds its parents weakly (a child does not reference its
    * parent), so a parent nothing else uses is collected with its child.
    */
  private val streamSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Child session for the stream gates: own SQLConf (stream-sized
    * shuffle partitions — see the sizing note in [[runStreamGate]]),
    * shared SparkContext/catalog. The conf is written ONCE at creation
    * and never mutated, so concurrent stream gates need no lock and a
    * concurrently-planning batch gate can never observe it. The
    * memory-sink table registers in this session; the returned gate
    * frame carries it.
    */
  private[graft] def streamSession(s: SparkSession): SparkSession =
    streamSessions.computeIfAbsent(s, parent => {
    val ss = parent.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    // State-store provider A/B hook (r15, verdict #4): checkpoints are
    // per-run temp dirs, so the provider can swap with no format
    // churn. Default = the in-memory HDFS-backed provider: measured
    // faster for these gates' KB-scale state (see OPTIMIZATION_r15.md
    // — RocksDB pays native column-family setup + sst flush per
    // partition per batch, which only amortizes when state outgrows
    // executor heap; at 100 TB state volume the rule flips and a
    // deployment sets SPARK_GRAFT_STREAM_STATE_PROVIDER=rocksdb).
    sys.env.get("SPARK_GRAFT_STREAM_STATE_PROVIDER").foreach {
      case "rocksdb" => ss.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case other => ss.conf.set(
        "spark.sql.streaming.stateStore.providerClass", other)
    }
    ss
  })

  /** Raw QueryProgress JSON of the most recent [[runStreamGate]] /
    * [[runStreamGate2]] stream — probe/diagnostic surface (same
    * volatile-telemetry contract as [[lastStreamBatchMs]]).
    */
  @volatile var lastStreamProgress: Seq[String] = Nil

  /** Summed micro-batch `triggerExecution` millis of the most recent
    * [[runStreamGate]] stream (−1 before any stream gate has run).
    */
  @volatile var lastStreamBatchMs: Long = -1L

  /** [[runStreamGate]] twin for TWO-stream operators (stream-stream
    * join): both streams read the same copied source — each gets its
    * own file-source instance, as two independent feeds would.
    */
  private def runStreamGate2(
      s: SparkSession,
      dir: String,
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      prefix: String,
      mode: String)(agg: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val tmpBase = streamScratchBase
    val srcDir = java.nio.file.Files.createTempDirectory(tmpBase, s"graft-$prefix-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$table.parquet"),
      srcDir.resolve(s"$table.parquet"))
    val qname = prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ck = java.nio.file.Files.createTempDirectory(tmpBase, "graft-ck").toString
    val ss = streamSession(s)
    val q = agg(
        ss.readStream.schema(schema).parquet(srcDir.toString),
        ss.readStream.schema(schema).parquet(srcDir.toString))
      .writeStream.outputMode(mode).format("memory").queryName(qname)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastStreamBatchMs = q.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .sum
    lastStreamProgress = q.recentProgress.toSeq.map(_.json)
    ss.table(qname)
  }

  private val EventsStreamSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  private val DocumentsStreamSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
  }

  private val EmbeddingsStreamSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
  }

  private def eventMicros(ev: DataFrame): Column =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  private def versionedEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
    ev.select(
        col("user_id").cast("long").as(Meta.OID),
        (eventMicros(ev) / lit(1e6)).as(Meta.START),
        col("event_id"),
        col("event_type"),
        col("value"))
      .withColumn(Meta.END, lead(col(Meta.START), 1).over(
        Window.partitionBy(Meta.OID).orderBy(col(Meta.START), col("event_id"))))
      .drop("event_id")
  }

  /** Stamp the meta columns onto a (_oid, _start, _end, event_type,
    * value) frame — content hash over the two data columns only.
    */
  private def wrapEvents(df: DataFrame): DataFrame =
    df.select(col(Meta.OID), col(Meta.START), col(Meta.END), col("event_type"), col("value"))
      .withColumn(Meta.HASH, Meta.contentHashOf(
        "event_type" -> col("event_type"), "value" -> col("value")))
      .withColumn(Meta.ID, Meta.genId(col(Meta.OID), col(Meta.START), col(Meta.END)))
      .withColumn(Meta.V, lit(0))
      .withColumn(Meta.LIB_V, lit(Meta.LibVersion))
      .withColumn(Meta.E, lit(null).cast("map<string,string>"))

  /** The DuckDB rendering of [[versionedEvents]] — shared CTE prefix. */
  private val VEventsSql: String =
    """WITH v AS (
      |  SELECT CAST(user_id AS BIGINT) AS _oid,
      |         epoch_us(ts)/1e6 AS _start,
      |         lead(epoch_us(ts)/1e6) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _end,
      |         event_type, value
      |  FROM events
      |)""".stripMargin

  private def ts(d: String): Double = TimeUtils.dt2ts(d)

  /** Documents re-chunked into aligned 8-token lines — the shared
    * input of the line-granularity gates (q_boilerplate,
    * q_line_dedup); their oracles replicate the same slice algebra in
    * one shared CTE shape.
    */
  private def linedDocuments(s: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val nChunks =
      greatest(ceil(size(ws).cast("double") / lit(8.0)).cast("long"), lit(1L))
    tbl(s, dir, "documents").select(
      col("doc_id"),
      array_join(
        transform(sequence(lit(0L), nChunks - 1),
          i => array_join(slice(ws, (i * 8 + 1).cast("int"), lit(8)), " ")),
        "\n").as("line_text"))
  }

  /** Decimal-exact money expression: both engines compute
    * `DECIMAL(18,2) × DECIMAL(18,2)` exactly, so the final
    * cast-to-double is bit-identical.
    */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  private def revenue: Column =
    dec(col("l_extendedprice")) * (lit(BigDecimal(1)).cast("decimal(18,2)") - dec(col("l_discount")))

  // ------------------------------------------------------------ flagship

  /** Flagship: MQL find over the versioned lineitem container joined to
    * orders, revenue per order-priority. Exercises the whole stack —
    * wrap→MQL parse→Catalyst filter→broadcast join→decimal agg.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val c = lineitemContainer(spark, dir)
    val found = c.find(query = "l_quantity > 20 and l_returnflag in ['A', 'R']", date = "~")
    found
      .join(broadcast(tbl(spark, dir, "orders")), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(cast_sum_double(revenue).as("revenue"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  private def cast_sum_double(c: Column): Column = sum(c).cast("double")

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------------------------------------- MQL find / filters
    "q_find_mql" -> ((s, dir) => {
      val c = lineitemContainer(s, dir)
      c.find(query = "l_quantity > 40 and l_returnflag == 'R'", date = "~")
        .select(
          col(Meta.OID),
          col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"), col("l_linestatus"))
        .orderBy(col(Meta.OID), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"), col("l_linestatus"))
    }),

    "q_find_fields" -> ((s, dir) => {
      val c = lineitemContainer(s, dir)
      c.find(query = "l_linestatus == 'O'", fields = "l_quantity,l_returnflag", date = "~")
        .orderBy(col(Meta.OID), col("l_quantity"), col("l_returnflag"))
    }),

    "q_find_in_notin" -> ((s, dir) => {
      val c = lineitemContainer(s, dir)
      c.find(
          query = "l_returnflag in ['A', 'N'] and l_linestatus != 'F' and not (l_quantity < 10)",
          date = "~")
        .select(col(Meta.OID), col("l_returnflag"), col("l_quantity"))
        .orderBy(col(Meta.OID), col("l_returnflag"), col("l_quantity"))
    }),

    "q_find_sort_limit" -> ((s, dir) => {
      val c = partContainer(s, dir)
      c.find(query = "p_size >= 10", date = "~",
          sort = Meta.OID, descending = true, limit = 100)
        .select(col(Meta.OID), col("p_retailprice"))
    }),

    "q_find_regex" -> ((s, dir) => {
      val c = partContainer(s, dir)
      c.find(query = "p_name == regex('a.*o') and p_type == iregex('BRASS|STEEL')", date = "~")
        .select(col(Meta.OID), col("p_name"), col("p_type"))
        .orderBy(col(Meta.OID))
    }),

    // negated regex: `!= regex(...)` keeps rows NOT matching
    "q_find_regex_neg" -> ((s, dir) => {
      val c = partContainer(s, dir)
      c.find(query = "p_name != regex('o') and p_size < 4", date = "~")
        .select(col(Meta.OID), col("p_name"))
        .orderBy(col(Meta.OID))
    }),

    // regex over an ARRAY field: ANY element matching (PG `~@` parity)
    "q_find_regex_array" -> ((s, dir) => {
      val orders = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(array_distinct(collect_list(col("l_linestatus")))).as("modes"))
      val c = Container.fromRaw(s, "omodes", orders, col("l_orderkey"), AsOf)
      c.find(query = "modes == regex('^O')", date = "~")
        .select(col(Meta.OID), size(col("modes")).cast("long").as("n_modes"))
        .orderBy(col(Meta.OID))
    }),

    "q_count_mql" -> ((s, dir) => {
      val c = lineitemContainer(s, dir)
      // count() collapses to a Long; expose as a one-row DataFrame
      c.find(query = "l_quantity >= 30 and l_discount < 0.05", date = "~")
        .agg(count(lit(1)).as("n"))
    }),

    // raw-SQL passthrough WITH an mql() predicate inside Spark SQL —
    // gates Container.execute AND the GraftExtensions running-session
    // rewrite (the MQL compiles against the view schema and still
    // reaches the scan as a plain filter)
    "q_execute_mql_sql" -> ((s, dir) => {
      new GraftExtensions().register(s)
      val c = lineitemContainer(s, dir)
      c.execute(
        """SELECT _oid, l_quantity, l_returnflag FROM lineitem
          |WHERE mql('l_quantity > 45 and l_returnflag in ["A", "N"]') AND _end IS NULL
          |ORDER BY _oid, l_quantity, l_returnflag""".stripMargin)
    }),

    // where-map filter with the INTENDED AND semantics (the reference's
    // loop bug only honors the last key — divergence noted SURVEY §7.4)
    "q_filter_where" -> ((s, dir) => {
      val c = lineitemContainer(s, dir)
      c.where(Map("l_returnflag" -> "R", "l_linestatus" -> "F"), date = "~")
        .select(col(Meta.OID), col("l_quantity"), col("l_returnflag"), col("l_linestatus"))
        .orderBy(col(Meta.OID), col("l_quantity"))
    }),

    "q_distinct_scalar" -> ((s, dir) => {
      val c = lineitemContainer(s, dir)
      c.distinct("l_returnflag").withColumnRenamed("l_returnflag", "flag")
    }),

    // distinct over an ARRAY field flattens elements first
    // (reference: sqlalchemy.py:706-721)
    "q_distinct_array" -> ((s, dir) => {
      val orders = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(array_distinct(collect_list(col("l_returnflag")))).as("flags"))
      val c = Container.fromRaw(s, "oflags", orders, col("l_orderkey"), AsOf)
      c.distinct("flags").withColumnRenamed("flags", "flag")
    }),

    // array-field MQL: `flags == 'R'` is ANY-element-equals; `empty()`
    "q_find_array_any" -> ((s, dir) => {
      val orders = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(array_distinct(collect_list(col("l_returnflag")))).as("flags"))
      val c = Container.fromRaw(s, "oflags", orders, col("l_orderkey"), AsOf)
      c.find(query = "flags == 'R' and flags in ['A', 'N']", date = "~")
        .select(col(Meta.OID), size(col("flags")).cast("long").as("n_flags"))
        .orderBy(col(Meta.OID))
    }),

    "q_find_array_empty" -> ((s, dir) => {
      val orders = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(array_distinct(collect_list(
          when(col("l_returnflag") === "R", col("l_returnflag"))))).as("r_flags"))
      val c = Container.fromRaw(s, "orflags", orders, col("l_orderkey"), AsOf)
      c.find(query = "empty(r_flags)", date = "~")
        .select(col(Meta.OID)).orderBy(col(Meta.OID))
    }),

    // ------------------------------------------- temporal date dimension
    "q_date_current" -> ((s, dir) => {
      val c = new Container(s, "vevents", versionedEvents(s, dir))
      c.find(date = null) // None ⇒ `_end == None` (current snapshot)
        .select(col(Meta.OID), col(Meta.START), col("event_type"), col("value"))
        .orderBy(col(Meta.OID))
    }),

    "q_date_asof" -> ((s, dir) => {
      val c = new Container(s, "vevents", versionedEvents(s, dir))
      c.find(date = "2024-01-15")
        .select(col(Meta.OID), col(Meta.START), col(Meta.END), col("event_type"), col("value"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    "q_date_window" -> ((s, dir) => {
      val c = new Container(s, "vevents", versionedEvents(s, dir))
      c.find(query = "event_type != 'error'", date = "2024-01-10~2024-01-20")
        .select(col(Meta.OID), col(Meta.START), col("event_type"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    "q_date_before" -> ((s, dir) => {
      val c = new Container(s, "vevents", versionedEvents(s, dir))
      c.find(date = "~2024-01-05")
        .select(col(Meta.OID), col(Meta.START))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    "q_date_after" -> ((s, dir) => {
      val c = new Container(s, "vevents", versionedEvents(s, dir))
      c.find(date = "2024-01-25~")
        .select(col(Meta.OID), col(Meta.START))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // `on_date` uses `<=` on `_start` (vs strict `<` server-side) —
    // both semantics preserved (reference: result.py:175 vs parse.py:109)
    "q_on_date" -> ((s, dir) => {
      versionedEvents(s, dir)
        .onDate(ts("2024-01-15"))
        .select(col(Meta.OID), col(Meta.START), col("event_type"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    "q_history_counts" -> ((s, dir) => {
      val grid = (2 to 29).map(d => ts(f"2024-01-$d%02d"))
      versionedEvents(s, dir).history(grid)
    }),

    // history + least-squares forecast (reference: result.py:197-223
    // _linreg_future). The fit runs driver-side over the ~300-point
    // series, in the shifted exact-integer-sums formulation
    // (linregFutureExact), so the DuckDB oracle — same closed form over
    // the same exact sums — produces bit-identical forecasts.
    "q_history_linreg" -> ((s, dir) => {
      import s.implicits._
      val grid = (2 to 29).map(d => ts(f"2024-01-$d%02d"))
      val hist = versionedEvents(s, dir).history(grid)
        .collect().map(r => (r.getDouble(0), r.getLong(1).toDouble))
      val (xs, ys) = hist.toSeq.unzip
      val future = (30 to 32).map(d =>
        if (d <= 31) ts(f"2024-01-$d%02d") else ts("2024-02-01"))
      val fc = TemporalOps.linregFutureExact(xs, ys, future, x0 = ts("2024-01-02"))
      (hist.map { case (x, y) => (x, y, "observed") } ++
        future.zip(fc).map { case (x, y) => (x, math.round(y * 1e6) / 1e6, "forecast") })
        .toSeq.toDF("date", "n", "kind")
        .orderBy("date")
    }),

    // history over the scale="maximum" grid: every distinct version
    // boundary in a 6-hour window — the reference's finest-resolution
    // dates_range (result.py:243-262); boundary extraction + the
    // count-per-instant both verified by the oracle
    "q_history_maximum" -> ((s, dir) => {
      val ve = versionedEvents(s, dir)
      val grid = TemporalOps.datesRangeMaximum(
        ve, ts("2024-01-10"), ts("2024-01-10 06:00:00"))
      ve.history(grid)
    }),

    "q_persistent_oids" -> ((s, dir) => {
      val grid = (2 to 29 by 3).map(d => ts(f"2024-01-$d%02d"))
      versionedEvents(s, dir).persistentOidCounts(grid)
    }),

    "q_last_version" -> ((s, dir) => {
      versionedEvents(s, dir).lastVersion
        .select(col(Meta.OID), col(Meta.START), col("event_type"), col("value"))
        .orderBy(col(Meta.OID))
    }),

    "q_first_version" -> ((s, dir) => {
      versionedEvents(s, dir).firstVersion
        .select(col(Meta.OID), col(Meta.START), col("event_type"), col("value"))
        .orderBy(col(Meta.OID))
    }),

    "q_versions_age" -> ((s, dir) => {
      versionedEvents(s, dir)
        .lastVersionsWithAge(ts("2024-02-01"))
        .select(col(Meta.OID), col(Meta.START), col("age"))
        .orderBy(col(Meta.OID))
    }),

    "q_started_after" -> ((s, dir) => {
      versionedEvents(s, dir)
        .startedAfter(ts("2024-01-01 12:00:00"))
        .select(col(Meta.OID), col(Meta.START))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    "q_unfinished" -> ((s, dir) => {
      // drop versions open at the right bound, then ask for unfinished
      versionedEvents(s, dir)
        .filter(col(Meta.END).isNull || col(Meta.END) < ts("2024-01-20"))
        .unfinishedObjects()
        .select(col(Meta.OID), col(Meta.START), col("event_type"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // gaps appear when 'error' versions are removed from the chain
    "q_last_chain" -> ((s, dir) => {
      versionedEvents(s, dir)
        .filter(col("event_type") =!= "error")
        .lastChain()
        .select(col(Meta.OID), col(Meta.START), col("event_type"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // version-to-version field diffs (dfind / DictDiffer)
    "q_dfind" -> ((s, dir) => {
      val c = new Container(s, "vevents", versionedEvents(s, dir))
      c.dfind()
        .orderBy(col(Meta.OID), col(Meta.START), col("field"))
    }),

    // ------------------------------------------------ SCD2 write path
    "q_upsert_scd2" -> ((s, dir) => {
      val cut = ts("2024-01-15")
      val ev = tbl(s, dir, "events")
      // base: version history from events before the cutoff
      val base = versionedEvents(s, dir)
        .filter(col(Meta.START) < cut)
        .withColumn(Meta.END, when(col(Meta.END) < cut, col(Meta.END)))
      // incoming: latest event per user overall, as a current snapshot
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      val incoming = wrapEvents(ev
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(
          col("user_id").cast("long").as(Meta.OID),
          (eventMicros(ev) / lit(1e6)).as(Meta.START),
          lit(null).cast("double").as(Meta.END),
          col("event_type"), col("value")))
      val baseWrapped = wrapEvents(base)
      new Container(s, "vevents", baseWrapped)
        .upsert(incoming)
        .df
        .select(col(Meta.OID), col(Meta.START), col(Meta.END), col("event_type"), col("value"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // CDC change feed implied by the SCD2 store: versions opened at
    // or after the cut emit `open` at _start, versions closed at or
    // after it emit `close` at _end (a rotation = close + open pair).
    // Two scan-side filters, no join, no window.
    "q_change_feed" -> ((s, dir) => {
      import graft.temporal.TemporalOps._
      val cut = ts("2024-01-15")
      versionedEvents(s, dir)
        .changeFeed(cut)
        .select(col(Meta.OID), col("change_op"), col("change_at"),
          col("event_type"))
        .orderBy(col(Meta.OID), col("change_at"), col("change_op"), col("event_type"))
    }),

    // history import: replace ALL versions of the oids in the batch
    "q_history_import" -> ((s, dir) => {
      val base = versionedEvents(s, dir)
      val replacement = versionedEvents(s, dir)
        .filter(col(Meta.OID) < 5 && col("event_type") === "purchase")
        .withColumn(Meta.END, lead(col(Meta.START), 1).over(
          Window.partitionBy(Meta.OID).orderBy(col(Meta.START))))
      new Container(s, "vevents", base)
        .historyImport(replacement)
        .df
        .select(col(Meta.OID), col(Meta.START), col(Meta.END), col("event_type"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // recursive closure over a link field (deptree)
    "q_deptree" -> ((s, dir) => {
      import s.implicits._
      val c = Container.fromRaw(
        s, "nation", tbl(s, dir, "nation"), col("n_nationkey").cast("long"), AsOf)
      val keys = c.deptree("n_regionkey", Seq(0L, 1L, 2L), date = "~")
        .map(_.toString.toDouble.toLong).distinct
      keys.sorted.toDF("k").orderBy("k")
    }),

    // container union/extend with `_id` dedup
    "q_union_dedup" -> ((s, dir) => {
      val c = Container.fromRaw(
        s, "orders", tbl(s, dir, "orders"), col("o_orderkey"), AsOf)
      c.df.unionByName(c.df)
        .dropDuplicates(Meta.ID)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // ------------------------------------------------ joins / aggregates
    "q1_pricing_summary" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          cast_sum_double(dec(col("l_quantity"))).as("sum_qty"),
          cast_sum_double(dec(col("l_extendedprice"))).as("sum_base_price"),
          cast_sum_double(revenue).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_top_orders" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      // Aggregate lineitem revenue per order BEFORE the join (guide
      // §2.3 "aggregate before you shuffle"): the group key IS the join
      // key, so revenue crosses the one exchange as a compact
      // (orderkey, decimal) partial per order instead of full lineitem
      // rows — and no side of the join is ever a fact-table broadcast
      // (the old join-first shape let the planner broadcast the ENTIRE
      // 600k-row lineitem relation at sf0.1, a shape that dies at any
      // real scale; customer, the true dim, still broadcasts). The
      // re-aggregation after the join preserves join-then-group
      // semantics exactly — even under duplicate order keys — and
      // decimal sums are associative, so revenue is bit-identical.
      li.groupBy(col("l_orderkey"))
        .agg(sum(revenue).as("__rev"))
        .join(orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("__rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q5_nation_revenue" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val sup = tbl(s, dir, "supplier")
      val nat = tbl(s, dir, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(cast_sum_double(revenue).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    "q_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rk").cast("long").as("rk"))
        .orderBy("o_custkey", "rk")
    }),

    // Fixed-bin histogram over [50, 500) in 9 bins; the corpus has
    // values on both sides (min 48, max 553 at sf0.01) so the
    // underflow/overflow rows are exercised. Bin math is one
    // multiply+divide+floor — IEEE-identical across engines.
    "q_histogram" -> ((s, dir) => {
      graft.functions.Sketches.histogram(
          tbl(s, dir, "documents"), "n_chars", lo = 50.0, hi = 500.0, bins = 9)
        .orderBy("bin")
    }),

    // Key-skew diagnosis: top-10 heaviest user_ids with their share of
    // all events + table totals (count ties broken by key — the
    // uniform synthetic load is ALL ties, so the tiebreak is the gate).
    "q_skew_report" -> ((s, dir) => {
      graft.functions.Sketches.skewReport(
          tbl(s, dir, "events"), Seq("user_id"), k = 10)
        .select(col("user_id").cast("long").as("user_id"), col("n"),
          col("frac"), col("rk"), col("n_total"), col("n_keys"))
        .orderBy("rk")
    }),

    // Trailing 5-minute rolling aggregates per user (RANGE frame over
    // epoch micros — integer-exact frames; the summed quantity is
    // floor(value*100) so window sums are BIGINT-exact in both
    // engines regardless of their frame-summation order).
    "q_rolling_window" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val base = ev.select(
        col("user_id").cast("long").as("user_id"), col("event_id"),
        eventMicros(ev).as("us"), col("value"))
      graft.temporal.TemporalOps.rollingAgg(
          base, Seq("user_id"), "us", 300000000L,
          Map(
            "n_5m" -> count(lit(1)),
            "cents_5m" -> sum(floor(col("value") * 100)),
            "max_5m" -> max(col("value"))))
        .select(col("user_id"), col("event_id"), col("us"),
          col("n_5m"), col("cents_5m"), col("max_5m"))
        .orderBy("user_id", "us", "event_id")
    }),

    // gap-based sessionization over the events stream (30-min gaps)
    "q_sessionize" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(
          col("user_id").cast("long").as("user_id"),
          (eventMicros(tbl(s, dir, "events")) / lit(1e6)).as("t"),
          col("event_id"), col("value"))
      graft.operators.Sessionize.sessions(
          ev, "user_id", "t", gapSeconds = 1800.0, tieBreak = Some("event_id"),
          aggs = Seq(cast_sum_double(dec(col("value"))).as("sum_value")))
        .select(col("user_id"), col("session"),
          col("session_start"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session")
    }),

    // --------------------------------------------------- text analysis
    // text stats ride the one-pass TextStatsExpr (bit-equal to the
    // Column formulations per TextStatsExprSpec, ~40x cheaper)
    "q_token_counts" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextStatsExpr(col("text"))
            .getField("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // token-budget sequence packing over the corpus (two-phase
    // distributed prefix sum; oracle = same window in DuckDB)
    "q_token_pack" -> ((s, dir) => {
      val tok = tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextStatsExpr(col("text"))
            .getField("n_tokens").cast("long").as("n_tokens"))
      graft.functions.Curation.packSequences(
          tok, col("n_tokens"), budget = 2048L, orderBy = Seq(col("doc_id")),
          numPartitions = 8)
        .select("doc_id", "n_tokens", "cum_tokens", "pack_id", "pack_pos")
        .orderBy("doc_id")
    }),

    // curriculum variant: packs fill in ascending token-count order
    // (ties by doc_id) — same two-phase prefix sum, different sort key;
    // the oracle replays it as a window ordered by (n_tokens, doc_id)
    "q_token_pack_length" -> ((s, dir) => {
      val tok = tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextStatsExpr(col("text"))
            .getField("n_tokens").cast("long").as("n_tokens"))
      graft.functions.Curation.packSequencesByLength(
          tok, col("n_tokens"), budget = 2048L, id = col("doc_id"),
          numPartitions = 8)
        .select("doc_id", "n_tokens", "cum_tokens", "pack_id", "pack_pos")
        .orderBy("doc_id")
    }),

    // deterministic group-stable train/val/test split, gated on the
    // md5 bucket basis so DuckDB reproduces every per-row assignment
    // (the default xxhash basis shares all logic but the bucket hash;
    // proportions/determinism/disjointness asserted in CurationSpec)
    "q_hash_split" -> ((s, dir) => {
      graft.functions.Curation.hashSplit(
          tbl(s, dir, "documents"), col("doc_id"), Seq(0.9, 0.05, 0.05),
          basis = "md5")
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    // benchmark-contamination check: docs sharing >= 3 distinct word
    // 5-grams with the held-out "eval" slice (doc_id % 50 == 0) —
    // exactly one genuinely contaminated pair exists in the corpus
    "q_contamination" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.functions.Curation.contamination(
          docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
          n = 5, minOverlap = 3)
        .orderBy("corpus_id", "eval_id")
    }),

    // SEMANTIC contamination — the embedding-space sibling (n-gram
    // overlap misses paraphrases): corpus embeddings within an exact
    // integer L2 range of any eval embedding, eval side broadcast
    // along one corpus scan (a range screen, not a kNN)
    "q_semantic_contamination" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val eval = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("eval_vid"), col("embedding"))
      graft.functions.Curation.semanticContamination(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          eval, "eval_vid", "embedding",
          scale = art.scale, maxDist = 80000L)
        .orderBy("corpus_id", "eval_id")
    }),

    // deterministic bottom-k sample: 3 docs per lang by md5 priority —
    // reservoir-style sampling with no RNG state, verified row-for-row
    "q_bottomk_sample" -> ((s, dir) => {
      graft.functions.Curation.bottomKSample(
          tbl(s, dir, "documents"), col("doc_id"), k = 3, strata = Seq("lang"))
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    }),

    // deterministic stratified sample on the md5 basis — every kept
    // row verified (not just proportions)
    "q_stratified_sample" -> ((s, dir) => {
      graft.functions.Curation.stratifiedSample(
          tbl(s, dir, "documents"),
          col("lang"), Map("en" -> 0.5, "de" -> 1.0, "zh" -> 0.25),
          col("doc_id"), basis = "md5")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // deterministic corpus mixture: full epochs + hash-sampled
    // fractional remainder per source, every emitted row verified
    "q_mixture" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      graft.functions.Curation.mixture(
          Seq(
            ("en", docs.filter(col("lang") === "en"), 1.5),
            ("rest", docs.filter(col("lang") =!= "en"), 0.5)),
          col("doc_id"), basis = "md5")
        .select(col("doc_id"), col("mix_source"), col("mix_epoch"))
        .orderBy("doc_id", "mix_source", "mix_epoch")
    }),

    // Temperature-flattened mixture (output lang share ∝ n^0.5):
    // every kept row and epoch copy verified — thresholds come from
    // IEEE-exact sqrt + an ordered fold, so both engines compute the
    // same integers.
    "q_mixture_temp" -> ((s, dir) => {
      graft.functions.Curation.mixtureByTemperature(
          tbl(s, dir, "documents"), "lang", col("doc_id"),
          targetRows = 300, basis = "md5")
        .select(col("doc_id"), col("lang"), col("mix_epoch"))
        .orderBy("doc_id", "mix_epoch")
    }),

    "q_bpe_token_counts" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextStatsExpr(col("text")).getField("n_bpe").as("n_bpe"))
        .orderBy("doc_id")
    }),

    "q_text_stats" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), graft.functions.TextStatsExpr(col("text")).as("s"))
        .select(
          col("doc_id"),
          round(col("s.punct_ratio"), 6).as("punct_ratio"),
          round(col("s.mean_word_len"), 6).as("mean_word_len"),
          round(col("s.stopword_ratio"), 6).as("stopword_ratio"))
        .orderBy("doc_id")
    }),

    "q_quality_score" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextStatsExpr(col("text")).getField("quality").as("quality"))
        .orderBy("doc_id")
    }),

    // canonical-representative selection: best-quality doc per
    // (lang, source) cell — the keep-best half of near-dup dedup
    "q_keep_best" -> ((s, dir) => {
      val scored = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          graft.functions.TextStatsExpr(col("text")).getField("quality").as("quality"))
      graft.functions.Dedup.keepBest(scored, Seq("lang", "source"), "quality", "doc_id")
        .select("lang", "source", "doc_id", "quality")
        .orderBy("lang", "source")
    }),

    "q_lang_id" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // PII scrubbing: deterministic synthetic PII (email/URL/IPv4 built
    // from doc_id) appended to each document, then counted and
    // redacted — the oracle rebuilds the same text, re-runs the same
    // RE2-compatible regexes, and hash-compares counts AND the md5 of
    // the scrubbed text, so redaction is verified, not trusted
    "q_scrub_pii" -> ((s, dir) => {
      val withPii = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via http://site"),
          col("doc_id"), lit(".test/page or 10.0."), pmod(col("doc_id"), lit(200L)),
          lit(".1 end")).as("text"))
      withPii.select(
          col("doc_id"),
          TextFunctions.piiCounts(col("text")).as("p"),
          md5(TextFunctions.scrubPii(col("text"))).as("scrubbed_md5"))
        .select(col("doc_id"), col("p.n_urls").as("n_urls"),
          col("p.n_emails").as("n_emails"), col("p.n_ips").as("n_ips"),
          col("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    // within-document n-gram repetition ratio (Gopher-style signal)
    "q_repetition" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
          col("doc_id"),
          round(TextFunctions.repetitionRatio(col("text")), 6).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    "q_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(
          col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"),
          TextFunctions.shingleFingerprint(col("text")).as("shingle_fp"))
        .orderBy("doc_id")
    }),

    // ---------------------------------------------------- deduplication
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(tbl(s, dir, "documents"), "doc_id", Seq("lang", "source"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    "q_dedup_groups" -> ((s, dir) => {
      Dedup.exactGroups(tbl(s, dir, "documents"), "doc_id", "text")
        .select(md5(col("text")).as("text_md5"), col("n_dups"), col("keep_id"))
        .orderBy("keep_id")
    }),

    "q_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashPairs(tbl(s, dir, "documents"), "doc_id", "text",
          k = 64, bands = 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    "q_simhash" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), graft.functions.DedupExpressions.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")
    }),

    "q_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // simhash near-dedup end-to-end: block-LSH pairs -> connected
    // components -> keep each cluster's min-id representative
    "q_simhash_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      val comp = Dedup.connectedComponents(pairs)
      docs.join(
          comp.filter(col("id") =!= col("component")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
          tbl(s, dir, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", n = 3, threshold = 0.2)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),

    // ------------------------------------------------ similarity search
    "q_embed_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      emb.crossJoin(broadcast(q))
        .select(
          col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
    }),

    // int8 quantize -> dequantize -> rerank: top-k by approximate
    // cosine must recover the same neighborhood the float scan finds
    // (rows-only; quantization error bound asserted in SimilaritySpec)
    "q_embed_quantized" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
        .withColumn("qz", Similarity.quantizeInt8(col("embedding")))
        .withColumn("deq", Similarity.dequantizeInt8(col("qz")))
      val q = emb.filter(col("vec_id") === 0).select(col("deq").as("qvec"))
      emb.crossJoin(broadcast(q))
        .select(
          col("vec_id"),
          round(Similarity.cosine(col("deq"), col("qvec")), 3).as("approx_score"))
        .orderBy(col("approx_score").desc, col("vec_id"))
        .limit(20)
    }),

    // Deterministic ±1/√k random projection (plane family offset 128,
    // independent of the ANN gates' planes): IEEE-exact on both
    // engines via the ascending-index fold + division-by-sqrt recipe,
    // so raw doubles hash-match — no rounding in the gate.
    "q_random_project" -> ((s, dir) => {
      val proj = Similarity.randomProject(col("embedding"), k = 4, planeOffset = 128)
      tbl(s, dir, "embeddings").select(
          col("vec_id"),
          element_at(proj, 1).as("p0"), element_at(proj, 2).as("p1"),
          element_at(proj, 3).as("p2"), element_at(proj, 4).as("p3"))
        .orderBy("vec_id")
    }),

    // near-dup pairs through the LSH band prefilter — the 100 TB chain
    // (banded equi-join, NO CartesianProduct); the oracle replicates
    // the identical md5-derived planes, so the result hash-matches
    "q_embed_pairs" -> ((s, dir) => {
      Similarity.cosinePairsLsh(
          tbl(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .head().getSeq[Float](1)
      Similarity.annTopK(emb, "vec_id", "embedding", qv, k = 10)
    }),

    // Corpus-wide batch kNN (top-5 LSH-candidate neighbors for EVERY
    // vector in one plan). Bands, candidate set, cosines, and the
    // rounded-cosine rank order are all replicated by the oracle, so
    // the result is value-exact, not recall-gated. bandBits is PINNED
    // to 4 here (the fixed-width override path); the SHIPPED default
    // (bandBits = 0 → autoBandBits) is gated by q_knn_join_auto below.
    "q_knn_join" -> ((s, dir) => {
      Similarity.knnJoin(tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
          bandBits = 4)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("vec_id", "rk")
    }),

    // The DEFAULT knnJoin path users actually hit: bandBits = 0 →
    // autoBandBits(df.count()). The oracle re-derives the same width
    // from count(*) (ceil(log2(n/32)) clamped to [1,24]) so the gate
    // proves the auto formula end-to-end at WHATEVER scale factor the
    // driver runs — no pinning (VERDICT r5 item 2).
    "q_knn_join_auto" -> ((s, dir) => {
      Similarity.knnJoin(tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("vec_id", "rk")
    }),

    // ------------------------------------------------- ETL / streaming
    // activity import: rebuild the full event history from (current doc
    // + change log) — oracle is the consecutive-distinct version chain
    "q_activity_import" -> ((s, dir) => {
      val ve = versionedEvents(s, dir)
        .select(col(Meta.OID), col(Meta.START),
          col("event_type"), col("value").cast("string").as("value"))
      val w = Window.partitionBy(Meta.OID).orderBy(Meta.START)
      // consecutive-distinct states (identical consecutive states emit
      // no activity, so they merge in the reconstruction)
      val dedup = ve
        .withColumn("pet", lag("event_type", 1).over(w))
        .withColumn("pv", lag("value", 1).over(w))
        .filter(col("pet").isNull ||
          !(col("event_type") === col("pet") && col("value") === col("pv")))
      val current = dedup
        .withColumn("rn", row_number().over(
          Window.partitionBy(Meta.OID).orderBy(col(Meta.START).desc)))
        .withColumn("creation", min(Meta.START).over(Window.partitionBy(Meta.OID)))
        .filter(col("rn") === 1)
        .select(col(Meta.OID), col("creation").as(Meta.START),
          col("event_type"), col("value"))
      val acts = dedup.filter(col("pet").isNotNull)
        .select(col(Meta.OID), col(Meta.START).as("when"),
          col("pet"), col("event_type"), col("pv"), col("value"))
      val actRows = acts.select(col(Meta.OID), col("when"),
          lit("event_type").as("field"), col("pet").as("removed"),
          col("event_type").as("added"))
        .unionByName(acts.select(col(Meta.OID), col("when"),
          lit("value").as("field"), col("pv").as("removed"),
          col("value").as("added")))
      graft.etl.ActivityImport.rebuild(current, actRows)
        .select(col(Meta.OID).cast("long").as(Meta.OID), col(Meta.START),
          col(Meta.END), col("event_type"), col("value"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // incremental delta sync: new oids beyond watermark + mtime-changed
    "q_delta_oids" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val target = new Container(s, "orders",
        Meta.wrap(
          orders.filter(col("o_orderkey") <= 10000)
            .select(col("o_orderkey").cast("long").as("k")),
          col("k"), AsOf).withColumnRenamed("k", "okey"))
      graft.etl.Delta.deltaOids(
          orders.select(
            col("o_orderkey").cast("long").as("id"),
            (unix_micros(col("o_orderdate").cast("timestamp")) / lit(1e6)).as("mtime")),
          "id", "mtime", target, ts("1997-06-01"))
        .orderBy("id")
    }),

    // full-resync diff: source oids absent from the target, with the
    // anti-join Bloom-pruned (only the might-contain sliver shuffles).
    // Bloom false positives are resolved by the exact join, so the
    // result is deterministic and the DuckDB NOT-IN oracle replays it.
    "q_resync_missed" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val target = new Container(s, "orders_resync",
        Meta.wrap(
          orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
            .select(col("o_orderkey").cast("long").as("k")),
          col("k"), AsOf).withColumnRenamed("k", "okey"))
      graft.etl.Delta.missedOids(
          orders.select(col("o_orderkey").cast("long").as("id")), "id", target)
        .orderBy("id")
    }),

    // structured-streaming ingestion: events parquet as a file stream,
    // foreachBatch SCD2 upsert -> current snapshot per user
    "q_stream_upsert" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val chk = java.nio.file.Files.createTempDirectory("graft-chk")
      // file-stream sources need a directory: stage the events file
      val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        srcDir.resolve("events.parquet"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField(Meta.OID, LongType), StructField(Meta.START, DoubleType),
          StructField(Meta.END, DoubleType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField(Meta.HASH, StringType),
          StructField(Meta.ID, StringType), StructField(Meta.V, IntegerType),
          StructField(Meta.LIB_V, StringType),
          StructField(Meta.E, MapType(StringType, StringType)))))
      val c = new Container(s, "stream", empty)
      val q = graft.streaming.StreamIngest.upsertStream(
        s, srcDir.toString, schema, c, "user_id", "ts",
        Seq("event_type", "value"), chk.toString,
        startExpr = Some(df => unix_micros(col("ts")) / lit(1e6)))
      q.awaitTermination()
      c.df
        .select(col(Meta.OID), col(Meta.START), col("event_type"), col("value"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // streaming gap-sessionization gate: the flatMapGroupsWithState
    // operator (custom per-key state + event-time timeout) over the
    // events file stream, hash-compared to DuckDB's batch gap-split.
    // Only CLOSED sessions emit; the comparison restricts both sides
    // to sessions deterministically closed — by gap (a later event
    // exists for the user) or timed out with >=100 s of watermark
    // margin — so ms-truncation at the exact timeout boundary can't
    // flap the row set.
    "q_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      val sessions = runStreamGate(
          s, dir, "events", EventsStreamSchema, "ssess", "append") { st =>
        graft.streaming.StreamIngest.streamingSessionize(
          st.select(
              col("user_id").cast("long").as("user_id"),
              (unix_micros(col("ts")) / lit(1e6)).as("t"),
              col("event_id"), col("value"))
            .as[graft.streaming.SessionEvent],
          gapSeconds = 1800.0).toDF()
      }
      val ev = tbl(s, dir, "events")
      val base = ev.select(
        col("user_id").cast("long").as("user_id"),
        (eventMicros(ev) / lit(1e6)).as("t"))
      val mt = base.agg(max("t")).head().getDouble(0)
      val userMax = base.groupBy("user_id").agg(max("t").as("umax"))
      sessions
        .join(userMax, "user_id")
        .filter(col("session_end") <= lit(mt - 3700.0) || col("session_end") < col("umax"))
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // salted two-phase aggregation for hot keys — must equal the plain
    // groupBy (the oracle IS the unsalted result)
    "q_salted_agg" -> ((s, dir) => {
      graft.operators.Salt.aggregate(
          tbl(s, dir, "events").select(col("event_type"), col("value")),
          keys = Seq("event_type"),
          partials = Seq(
            "n" -> (count(lit(1)), sum(col("n")).cast("long")),
            "sum_value" -> (sum(dec(col("value"))), cast_sum_double(col("sum_value")))),
          buckets = 16)
        .orderBy("event_type")
    }),

    // Stream-static enrichment join: the event stream joins a small
    // broadcast dimension (user_id → segment, derived deterministically
    // so the oracle can rebuild it), then 1-hour windowed counts per
    // segment. The join is stateless; window state is
    // watermark-bounded.
    "q_stream_enrich" -> ((s, dir) => {
      val dim = tbl(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("segment", concat(lit("seg"), pmod(col("user_id"), lit(3))))
      runStreamGate(s, dir, "events", EventsStreamSchema, "enr", "complete") { st =>
        graft.streaming.StreamIngest.enrichedWindowedCounts(
          st.withColumn("__et", col("ts")),
          "__et", dim, "user_id", "segment",
          windowLen = "1 hour", watermark = "1 hour")
      }
        .select(
          (unix_micros(col("window.start")) / lit(1e6)).as("w_start"),
          col("segment"), col("n"))
        .orderBy("w_start", "segment")
    }),

    // streaming windowed aggregation (tumbling 1h + watermark) — the
    // stream result hash-matches DuckDB's time_bucket batch answer
    // STREAM-STREAM interval join (funnel/attribution): purchases
    // within 6 hours after a click by the same user, two independent
    // watermarked feeds. The time-range bound in the join condition is
    // what lets Spark EXPIRE join state (equi-join alone would hold
    // state forever); all rows arrive in one AvailableNow batch, so no
    // row is late and the append-mode output equals the batch join —
    // exactly what the oracle states. gap_us in integer microseconds.
    "q_stream_join" -> ((s, dir) => {
      runStreamGate2(s, dir, "events", EventsStreamSchema, "sjoin", "append") { (la, rb) =>
        val clicks = la.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("ts_c"))
        val buys = rb.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
            col("ts").as("ts_b"))
        graft.streaming.StreamIngest.intervalJoinStreams(
          clicks, buys, "c_user", "b_user", "ts_c", "ts_b",
          maxGap = "6 hours", watermark = "12 hours")
      }
        .select(col("c_user").as("user_id"), col("click_id"), col("buy_id"),
          (unix_micros(col("ts_b")) - unix_micros(col("ts_c"))).as("gap_us"))
        .orderBy("user_id", "click_id", "buy_id")
    }),

    // LEFT OUTER stream-stream interval join: unmatched clicks emit
    // null-buy rows once both watermarks pass ts_c + maxGap. The
    // outer result is only FINAL in the flushed region, so engine and
    // oracle both restrict to clicks older than
    // maxTs - watermark - maxGap - 1h margin (19h) — inside it the
    // streamed rows (matches and nulls) must equal the batch left
    // join exactly.
    "q_stream_join_outer" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val cutoffUs = ev.agg(max(eventMicros(ev))).head.getLong(0) -
        19L * 3600L * 1000000L
      runStreamGate2(s, dir, "events", EventsStreamSchema, "sjoinout", "append") { (la, rb) =>
        val clicks = la.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("ts_c"))
        val buys = rb.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
            col("ts").as("ts_b"))
        graft.streaming.StreamIngest.intervalJoinStreams(
          clicks, buys, "c_user", "b_user", "ts_c", "ts_b",
          maxGap = "6 hours", watermark = "12 hours", joinType = "left_outer")
      }
        .filter(unix_micros(col("ts_c")) <= cutoffUs)
        .select(col("c_user").as("user_id"), col("click_id"),
          coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
          coalesce(unix_micros(col("ts_b")) - unix_micros(col("ts_c")), lit(-1L))
            .as("gap_us"))
        .orderBy("user_id", "click_id", "buy_id")
    }),

    // RIGHT OUTER stream-stream interval join — the symmetric case:
    // unmatched buys (no click in the prior 6 hours by the same user)
    // emit null-click rows once the LEFT watermark passes ts_b. Same
    // flushed-region contract, applied to the RIGHT side's event time
    // (ts_b <= maxTs - 19h); matched rows inside it have
    // ts_c <= ts_b <= cutoff, so the filter is output-expressible.
    "q_stream_join_right" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val cutoffUs = ev.agg(max(eventMicros(ev))).head.getLong(0) -
        19L * 3600L * 1000000L
      runStreamGate2(s, dir, "events", EventsStreamSchema, "sjoinrt", "append") { (la, rb) =>
        val clicks = la.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("ts_c"))
        val buys = rb.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
            col("ts").as("ts_b"))
        graft.streaming.StreamIngest.intervalJoinStreams(
          clicks, buys, "c_user", "b_user", "ts_c", "ts_b",
          maxGap = "6 hours", watermark = "12 hours", joinType = "right_outer")
      }
        .filter(unix_micros(col("ts_b")) <= cutoffUs)
        .select(col("b_user").as("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"), col("buy_id"),
          coalesce(unix_micros(col("ts_b")) - unix_micros(col("ts_c")), lit(-1L))
            .as("gap_us"))
        .orderBy("user_id", "click_id", "buy_id")
    }),

    // FULL OUTER stream-stream interval join — both unmatched sides
    // flush under their respective contracts; the gate restricts to
    // rows whose every NON-NULL event time is inside the flushed
    // region, the symmetric restriction the batch oracle replays
    // verbatim. user_id comes from whichever side is present.
    "q_stream_join_full" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val cutoffUs = ev.agg(max(eventMicros(ev))).head.getLong(0) -
        19L * 3600L * 1000000L
      runStreamGate2(s, dir, "events", EventsStreamSchema, "sjoinfl", "append") { (la, rb) =>
        val clicks = la.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("ts_c"))
        val buys = rb.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
            col("ts").as("ts_b"))
        graft.streaming.StreamIngest.intervalJoinStreams(
          clicks, buys, "c_user", "b_user", "ts_c", "ts_b",
          maxGap = "6 hours", watermark = "12 hours", joinType = "full_outer")
      }
        .filter(
          (col("ts_c").isNull || unix_micros(col("ts_c")) <= cutoffUs) &&
          (col("ts_b").isNull || unix_micros(col("ts_b")) <= cutoffUs))
        .select(coalesce(col("c_user"), col("b_user")).as("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
          coalesce(unix_micros(col("ts_b")) - unix_micros(col("ts_c")), lit(-1L))
            .as("gap_us"))
        .orderBy("user_id", "click_id", "buy_id")
    }),

    // Stream-static AS-OF enrichment against the SCD2 version history
    // (the temporal-store <-> streaming bridge): each streamed event,
    // probed 30 min after its own time, picks the dimension version
    // valid then — [_start, _end) with the open current version —
    // via a stateless broadcast join. Users ≡ 0 (mod 7) are withheld
    // from the dim so the unmatched-left path is exercised.
    "q_stream_asof" -> ((s, dir) => {
      val dim = versionedEvents(s, dir)
        .filter(col(Meta.OID) % 7 =!= 0)
        .select(col(Meta.OID).as("d_user"), col(Meta.START).as("d_start"),
          col(Meta.END).as("d_end"), col("event_type").as("d_type"))
      runStreamGate(s, dir, "events", EventsStreamSchema, "asofenr", "append") { st =>
        graft.streaming.StreamIngest.enrichAsOfScd2(
          st.select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) / lit(1e6) + lit(1800.0)).as("at")),
          "at", dim, "user_id", "d_user", "d_start", "d_end")
      }
        .select(col("event_id"), col("user_id"), col("at"),
          coalesce(col("d_type"), lit("none")).as("d_type"),
          coalesce(col("d_start"), lit(-1.0)).as("d_start"))
        .orderBy("event_id")
    }),

    // STREAM-STREAM as-of with a VERSIONED DIMENSION STREAM: purchase
    // events form a per-user version feed; every event picks the
    // latest version at or before its own time, with cross-batch
    // buffering under the flushed-region contract (an event emits
    // once the watermark passes its time — the pick is then final).
    // Gate and oracle both restrict to events older than
    // maxTs − 13h (12h watermark + 1h margin).
    "q_stream_asof_dim" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val cutoffUs = ev.agg(max(eventMicros(ev))).head.getLong(0) -
        13L * 3600L * 1000000L
      runStreamGate2(s, dir, "events", EventsStreamSchema, "asofdim", "append") { (la, rb) =>
        graft.streaming.StreamIngest.enrichAsOfDimStream(
          la.select(col("user_id"), unix_micros(col("ts")).as("t_us"),
            col("event_id")),
          "user_id", "t_us", "event_id",
          rb.filter(col("event_type") === "purchase")
            .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
              col("event_id").cast("string").as("payload")),
          "user_id", "t_us", "payload",
          watermarkDelay = "12 hours").toDF()
      }
        .filter(col("t_us") <= cutoffUs)
        .select(col("event_id"), col("key").as("user_id"), col("t_us"),
          col("dim_t_us"),
          coalesce(col("dim_payload"), lit("none")).as("dim_payload"))
        .orderBy("event_id")
    }),

    // Streaming Bloom seen-screen: the densified word array as a
    // join-free, aggregation-free membership column — stateless, so
    // the streamed result IS the batch q_bloom_screen result and
    // shares its oracle (the q_stream_blocklist deployment shape).
    "q_stream_bloom" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val words = graft.functions.Sketches.bloomWords(
        graft.functions.Sketches.bloomBuild(
          docs.filter(col("doc_id") % 2 === 0), "text", mBits = 4096, numHashes = 4),
        mBits = 4096)
      runStreamGate(s, dir, "documents", DocumentsStreamSchema, "bloomscr", "append") { st =>
        st.select(col("doc_id"),
          graft.functions.Sketches.bloomHit(col("text"), words, 4096, 4).as("hit"))
      }.orderBy("doc_id")
    }),

    // Salt-replicated skew join: lineitem salted 8 ways, orders
    // replicated per salt — row semantics must equal the plain
    // equi-join, which IS the oracle (aggregated per order so the
    // gate output stays compact and totally ordered).
    "q_salted_join" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val ords = tbl(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_custkey"))
      graft.operators.Salt.saltedJoin(li, ords, Seq("okey"), buckets = 8)
        .groupBy("okey")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          max(col("o_custkey")).as("custkey"))
        .orderBy("okey")
    }),

    // Streaming blocklist screen: the Aho-Corasick kernel as a
    // stateless stream projection — the pattern list rides the task
    // closure exactly as a cluster broadcast would, so the streamed
    // result IS the batch q_blocklist result and shares its oracle.
    "q_stream_blocklist" -> ((s, dir) => {
      runStreamGate(s, dir, "documents", DocumentsStreamSchema, "blscreen", "append") { st =>
        graft.functions.Blocklist.hits(st, "doc_id", "text", BlocklistPatterns)
      }.orderBy("doc_id")
    }),

    "q_stream_window" -> ((s, dir) => {
      runStreamGate(s, dir, "events", EventsStreamSchema, "win", "complete") { st =>
        st.withColumn("__ts", col("ts"))
          .withWatermark("__ts", "1 hour")
          .groupBy(window(col("__ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
      }
        .select(
          (unix_micros(col("window.start")) / lit(1e6)).as("w_start"),
          col("event_type"), col("n"), col("sv").cast("double").as("sum_value"))
        .orderBy("w_start", "event_type")
    }),

    // IVF ANN with a REAL coarse quantizer (seeded Lloyd k-means,
    // k=10 cells, nProbe=2) — a QUALITY gate: recall@10 vs the exact
    // brute-force top-10, per probe query, with the oracle pinning
    // `recall_ok=true`. The bar is 0.3, matched to this dataset's
    // information ceiling: the synthetic embeddings are near-isotropic
    // (top-10 neighbor cosines 0.24-0.40; even label-centroid queries
    // see only 2-8/10 same-label neighbors), so NO quantizer reaches
    // 0.9 recall at a 20% scan. Measured recall here is 0.4-0.6 —
    // deterministic run-to-run — versus ~0.2 for a broken/degenerate
    // probe, which is what the floor catches. One distributed plan:
    // cells via the one-pass IvfAssignExpr, probe filter via a
    // broadcast of the 5 query rows, both rankings window-ranked.
    "q_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val cents = ivfCentroids(s, dir)
      val queries = emb.filter(col("vec_id") < 5).orderBy("vec_id")
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val qdf = queries.toSeq
        .map { case (qid, qv) =>
          (qid, qv.toArray, Similarity.ivfProbes(qv, cents, nProbe = 2).toArray) }
        .toDF("query_id", "qvec", "probes")
      val cells = emb.withColumn("ivf_cell",
        Similarity.ivfAssign(col("embedding"), cents))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))
      val ann = cells
        .join(broadcast(qdf), array_contains(col("probes"), col("ivf_cell")))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("score"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      val brute = emb
        .crossJoin(broadcast(qdf.select("query_id", "qvec")))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("score"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      ann.select("query_id", "vec_id")
        .join(brute.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), (col("n_hits") >= 3).as("recall_ok"))
        .orderBy("query_id")
    }),

    // Embedding PCA, fit side: the quantized Gram matrix is EXACT
    // integers (floor(x*2^14 + 0.5) per float, BIGINT sums), so the
    // one number distributed float statistics usually can't be gated
    // on — the full second-moment matrix — hash-matches DuckDB
    // bit for bit, on any partitioning.
    "q_pca_gram" -> ((s, dir) => {
      Similarity.gramMatrix(tbl(s, dir, "embeddings"), "embedding")
        .orderBy("i", "j")
    }),

    // Whitening, apply side: project onto top-8 eigenvectors of the
    // quantized covariance (driver Jacobi) and scale to unit variance;
    // the gate pins the DEFINING invariants — each whitened component
    // has mean ~0 and population variance ~1 (quality-gate shape, like
    // q_ann_ivf's recall_ok: the oracle pins the booleans TRUE).
    "q_pca_whiten" -> ((s, dir) => {
      val w = Similarity.whitenVectors(
        tbl(s, dir, "embeddings"), "embedding", k = 8)
      w.select(posexplode(col("white")).as(Seq("component", "y")))
        .groupBy("component")
        .agg(avg(col("y")).as("m"), avg(col("y") * col("y")).as("m2"))
        .select(col("component").cast("long").as("component"),
          (abs(col("m")) < 0.01).as("mean_ok"),
          (abs(col("m2") - col("m") * col("m") - 1.0) < 0.02).as("var_ok"))
        .orderBy("component")
    }),

    // exact + approx distinct (the approx is the 100 TB path; exact is
    // the oracle-checked one)
    "q_distinct_count" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // the §1.3 value-prep pipeline in the gate: convert + typecast +
    // variants as one codegen'd projection
    "q_prep_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val prepped = graft.etl.Prep.prep(
        tbl(s, dir, "part"),
        Map(
          "p_size" -> graft.etl.Prep.FieldSpec(LongType),
          "p_type" -> graft.etl.Prep.FieldSpec(StringType,
            convert = Some(c => lower(trim(c))),
            variants = Map("type_len" -> (c => length(c).cast("long")))),
          "p_retailprice" -> graft.etl.Prep.FieldSpec(DoubleType)))
      prepped.select(
          col("p_partkey").cast("long").as("p_partkey"),
          col("p_size"), col("p_type"), col("type_len"), col("p_retailprice"))
        .orderBy("p_partkey")
    }),

    // deptree over an ARRAY link field: region -> [nations]
    "q_deptree_array" -> ((s, dir) => {
      import s.implicits._
      val regions = tbl(s, dir, "nation")
        .groupBy(col("n_regionkey").cast("long").as("rk"))
        .agg(array_sort(collect_list(col("n_nationkey").cast("long") + 100L)).as("children"))
      val nations = tbl(s, dir, "nation")
        .select((col("n_nationkey").cast("long") + 100L).as("rk"),
          array().cast("array<long>").as("children"))
      val c = Container.fromRaw(
        s, "tree", regions.unionByName(nations), col("rk"), AsOf)
      c.deptree("children", Seq(0L, 1L), date = "~")
        .map(_.toString.toDouble.toLong).distinct.sorted
        .toDF("k").orderBy("k")
    }),

    // two-stage dedup: LSH candidates confirmed by exact n-gram
    // Jaccard — the recommended 100 TB chain (rows-only)
    "q_dedup_two_stage" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val cand = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val candDocs = docs.join(
        cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      Dedup.ngramJaccardPairs(candDocs, "doc_id", "text", threshold = 0.8)
        .join(cand, Seq("id_a", "id_b"), "left_semi")
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),

    // near-dup connected components: n-gram Jaccard pairs -> large-
    // star/small-star label propagation -> (doc, component) with the
    // component key = smallest doc_id (what keepBest/hashSplit key on);
    // oracle = recursive-CTE transitive closure with min-label
    "q_dedup_components" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        tbl(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 3, threshold = 0.2)
      Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Leakage-safe split: the q_dedup_components near-dup groups as
    // the [[hashSplit]] key (singletons: own id), md5 basis so the
    // oracle replays every per-row assignment — near-copies provably
    // never straddle train/eval.
    "q_leakage_split" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.2)
      graft.functions.Curation.leakageSafeSplit(
          docs.select("doc_id"), "doc_id", pairs, Seq(0.8, 0.1, 0.1), basis = "md5")
        .select(col("doc_id"), col("group").as("grp"), col("split"))
        .orderBy("doc_id")
    }),

    // Link-graph centrality: fixed-iteration integer-nano PageRank
    // over the supplier<->customer transaction graph (customer keys
    // offset by 1e12 — far above any TPC-H key at any SF, so the two
    // id spaces can't collide; a 1e6 offset would alias suppliers and
    // customers at SF>=100 where s_suppkey reaches 1M). Both
    // truncating integer divisions (contrib r div deg, damping
    // div 1000) are on non-negative BIGINTs, where Spark `div` ==
    // DuckDB `//` — the oracle replays all 8 rounds bit-for-bit.
    // unit="nano" is PINNED (here and in the weighted/PPR gates): the
    // oracle hard-codes nano arithmetic, and auto would silently flip
    // to micro past ~10.6M node-damping — the gate contract must not
    // depend on corpus scale (q_pagerank_micro pins the micro engine).
    "q_pagerank" -> ((s, dir) => {
      graft.functions.Graphs.pageRank(
          pageRankEdges(s, dir), "src", "dst", iterations = 8, unit = "nano")
        .orderBy("node")
    }),

    // Per-node triangle counts + clustering coefficient over the part
    // co-purchase graph (parts sharing an order — non-bipartite, dense
    // triangle population). Degree orientation => each triangle found
    // exactly once at its lowest-(degree,id) vertex; the oracle's
    // canonical a<b<c triple join enumerates the identical set.
    "q_triangles" -> ((s, dir) => {
      graft.functions.Graphs.triangleCounts(coPurchaseEdges(s, dir), "src", "dst")
        .orderBy("node")
    }),

    // Same walk forced onto the micro unit (the scale path auto-select
    // takes past ~10.6M node·damping/1e3): base 150_000 / r0 1e6, the
    // final rank rescaled x1000 back to nano — the oracle replays the
    // micro arithmetic and rescales identically, so this gate pins the
    // coarse-unit engine bit-for-bit, not just approximately.
    "q_pagerank_micro" -> ((s, dir) => {
      graft.functions.Graphs.pageRank(
          pageRankEdges(s, dir), "src", "dst", iterations = 8, unit = "micro")
        .orderBy("node")
    }),

    // Weighted walk: edge weight = transaction multiplicity (the
    // lineitem count the unweighted gate's DISTINCT throws away), so
    // high-volume supplier<->customer relationships carry
    // proportionally more mass; contribution (r·w) div W replayed
    // bit-for-bit by the oracle.
    "q_pagerank_weighted" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val fwd = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_suppkey").cast("long").as("src"),
          (col("o_custkey").cast("long") + lit(1000000000000L)).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      graft.functions.Graphs.weightedPageRank(
          edges, "src", "dst", "w", iterations = 8, unit = "nano")
        .orderBy("node")
    }),

    // Deterministic synchronous label propagation (5 rounds) over the
    // part co-purchase graph — community detection, the grouping
    // complement of the pageRank score. Every round's argmax is
    // (count desc, label asc), a total order both engines express
    // exactly (Spark: max(struct(c, -label)); oracle: row_number) —
    // the gate pins all 5 rounds, not just a converged fixpoint.
    "q_label_prop" -> ((s, dir) => {
      graft.functions.Graphs.labelPropagation(
          coPurchaseEdges(s, dir), "src", "dst", iterations = 5)
        .orderBy("node")
    }),

    // Integer-micro HITS (4 rounds) over the DIRECTED supplier ->
    // customer transaction graph: suppliers can only be hubs,
    // customers only authorities, so the gate checks both role
    // vectors end-to-end (zero columns included). Every half-step is
    // a sum + truncating ceiling-divisor rescale into [0, 1e6] — the
    // oracle replays the exact integer chain.
    "q_hits" -> ((s, dir) => {
      graft.functions.Graphs.hits(
          transactionEdges(s, dir), "src", "dst", iterations = 4)
        .orderBy("node")
    }),

    // Personalized PageRank: the q_pagerank walk with teleport mass
    // restricted to trusted seed suppliers (s_suppkey <= 40) —
    // unreached nodes must land at EXACT 0, and the frontier-filtered
    // contribution join must not change a single rank vs the
    // all-nodes algebra the oracle runs.
    "q_ppr" -> ((s, dir) => {
      val seeds = tbl(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("s"))
        .filter(col("s") <= 40)
      graft.functions.Graphs.personalizedPageRank(
          pageRankEdges(s, dir), "src", "dst", seeds, "s", iterations = 8,
          unit = "nano")
        .orderBy("node")
    }),

    // Fixed-round k-core peeling (k=4, 3 synchronous rounds) over the
    // part co-purchase graph — survivors with their residual in-core
    // degree; the oracle chains the identical peel rounds.
    "q_kcore" -> ((s, dir) => {
      graft.functions.Graphs.kCoreRounds(
          coPurchaseEdges(s, dir), "src", "dst", k = 4, rounds = 3)
        .orderBy("node")
    }),

    // IncrementalStore lifecycle IN the gate: flush the first event per
    // user as the initial snapshot, flush the last event (rotating
    // changed users into append-only history), compact history, read
    // back history ∪ current — write volume O(|current|+|batch|) per
    // flush, never a history rewrite; the oracle derives the same
    // version set from first/last events directly
    "q_incremental_store" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-incr")
        .resolve("store").toString
      val ev = tbl(s, dir, "events")
      def snapshotOf(w: org.apache.spark.sql.expressions.WindowSpec) = wrapEvents(
        ev.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(
            col("user_id").cast("long").as(Meta.OID),
            (eventMicros(ev) / lit(1e6)).as(Meta.START),
            lit(null).cast("double").as(Meta.END),
            col("event_type"), col("value")))
      val first = snapshotOf(
        Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc))
      val last = snapshotOf(
        Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc))
      val st = graft.store.IncrementalStore.open(s, "incr", tmp)
      st.flushUpsert(first)
      st.flushUpsert(last)
      st.compactHistory(targetFiles = 2)
      st.df
        .select(col(Meta.OID), col(Meta.START), col(Meta.END), col("event_type"), col("value"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // full persistence lifecycle IN the gate: wrap -> save (partitioned
    // by is_current) -> load -> current-snapshot find (partition-pruned)
    "q_persist_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-rt").resolve("ve").toString
      val c = new Container(s, "ve", wrapEvents(versionedEvents(s, dir)), Some(tmp))
      c.save()
      Container.load(s, "ve", tmp)
        .find(date = null)
        .select(col(Meta.OID), col(Meta.START), col("event_type"), col("value"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // z-order layout lifecycle IN the gate: cluster events on the
    // (t, user_id) Morton curve, write, read back, filter on BOTH
    // axes — layout must not change results (oracle = plain scan),
    // while the clustered files serve either predicate with narrow
    // min/max stats (measured in ZOrderSpec)
    "q_zorder_scan" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-z").resolve("ev").toString
      val ev = tbl(s, dir, "events")
      val base = ev.select(
        col("event_id"),
        (eventMicros(ev) / lit(1e6)).as("t"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value"))
      graft.operators.ZOrder.cluster(base, Seq("t", "user_id"), numPartitions = 8)
        .write.mode("overwrite").parquet(tmp)
      val minT = base.agg(min("t")).head().getDouble(0)
      s.read.parquet(tmp)
        .filter(col("t") < lit(minT + 43200.0) && col("user_id") < 500)
        .select("event_id", "t", "user_id", "event_type", "value")
        .orderBy("event_id", "t", "user_id", "event_type", "value")
    }),

    // as-of join: attach the user's state (latest event at-or-before)
    // to each error event — union+carry-forward formulation
    "q_asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val base = ev.select(
        col("event_id"),
        col("user_id").cast("long").as("user_id"),
        (eventMicros(ev) / lit(1e6)).as("t"),
        col("event_type"), col("value"))
      val errors = base.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("t"))
      val states = base.filter(col("event_type") =!= "error")
        .select(col("user_id").as("uid"), col("t").as("st"),
          col("event_type").as("state_type"), col("value").as("state_value"))
      graft.operators.AsOfJoin.join(
          errors, states, "user_id", "uid", "t", "st",
          payload = Seq("state_type", "state_value"))
        .orderBy("event_id")
    }),

    // exact interpolated quantiles per group (sketch variants in
    // graft.functions.Sketches are the approximate 100 TB path)
    // Tukey-fence outlier trim per event_type over a deliberately
    // skewed value (value³ — uniform data would trim nothing at any
    // sane k). k=0.5 trims the ~14% right tail. v³ is the same three
    // IEEE multiplies on both engines; quartiles round at 4 like
    // q_quantiles (the cross-engine interpolation parity limit).
    "q_trim_outliers" -> ((s, dir) => {
      val ev = tbl(s, dir, "events").select(
        col("event_id"), col("event_type"),
        (col("value") * col("value") * col("value")).as("v3"))
      graft.functions.Sketches.trimOutliers(ev, Seq("event_type"), "v3", k = 0.5)
        .select(col("event_type"), col("event_id"),
          round(col("v3"), 6).as("v3"),
          round(col("q1"), 4).as("q1"), round(col("q3"), 4).as("q3"))
        .orderBy("event_type", "event_id")
    }),

    "q_quantiles" -> ((s, dir) => {
      graft.functions.Sketches.quantilesByKey(
          tbl(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
          Seq(0.25, 0.5, 0.75))
        .select(col("l_returnflag"),
          round(element_at(col("quantiles"), 1), 4).as("p25"),
          round(element_at(col("quantiles"), 2), 4).as("p50"),
          round(element_at(col("quantiles"), 3), 4).as("p75"))
        .orderBy("l_returnflag")
    }),

    // heavy hitters via the recommended sketch-then-confirm chain:
    // freqItems candidates (single-pass, bounded memory, may include
    // false positives) -> exact count over ONLY the candidates (a
    // semi-join, not a full groupBy at scale) -> keep > support. The
    // oracle computes the exact answer directly, so the chain must
    // neither miss a hitter nor let a false positive through
    // Count-min frequency estimates for the event types, gated within
    // eps*N of the exact counts (oracle computes exact + pins
    // within_tol) — the mergeable-sketch answer to point frequency.
    "q_count_min" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
      val types = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val n = ev.count()
      val est = graft.functions.Sketches.countMinEstimates(ev, "event_type", types)
        .toDF("event_type", "cms_n")
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("cms_n") - col("n_exact")) <= lit(math.ceil(n * 0.001).toLong))
            .as("within_tol"))
        .orderBy("event_type")
    }),

    "q_heavy_hitters" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val total = docs.count()
      val cand = graft.functions.Sketches.frequentItems(docs, Seq("lang"), 0.2)
        .head().getSeq[String](0)
      docs.filter(col("lang").isin(cand: _*))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .filter(col("n") > lit(total * 0.2))
        .orderBy("lang")
    }),

    // HLL-sketch distinct: per-(lang,source) sketches merged per lang.
    // Sketch bytes are engine-specific, so the gate is a TOLERANCE
    // gate: the exact distinct count (oracle-verified) rides along and
    // the merged estimate must land within 5% of it — a quantified
    // quality bound instead of a rows>0 check.
    "q_hll_distinct" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val sketches = graft.functions.Sketches.hllSketchByKey(
        docs, Seq("lang", "source"), "doc_id")
      val est = graft.functions.Sketches.hllMerge(sketches, Seq("lang"))
      val exact = docs.groupBy("lang").agg(countDistinct(col("doc_id")).as("n_exact"))
      est.join(exact, "lang")
        .select(col("lang"), col("n_exact"),
          (abs(col("distinct_estimate") - col("n_exact")) <= col("n_exact") * lit(0.05))
            .as("within_tol"))
        .orderBy("lang")
    }),

    // git-repo source. The shellout's raw parse is dumped to a fixture
    // parquet the DuckDB oracle reads by absolute path, so the
    // trailer-regex + numstat-total pipeline above the subprocess
    // boundary is value-verified (not just rows>0).
    "q_git_commits" -> ((s, dir) => {
      val raw = graft.etl.GitSource.rawNumstatRows(s, "/root/repo")
      raw.write.mode("overwrite").parquet(graft.etl.GitSource.FixturePath)
      graft.etl.GitSource.commitStats(s.read.parquet(graft.etl.GitSource.FixturePath))
        .orderBy(Meta.OID)
    }),

    // rpm source parse layer over a pre-recorded `rpm -qa` capture (no
    // rpm binary in env): raw lines go to a fixture parquet the oracle
    // re-parses field-by-field, so the \x01 split, "(none)" -> NULL and
    // host__nvra oid construction are value-verified
    "q_rpm_parse" -> ((s, dir) => {
      import s.implicits._
      val raw = graft.etl.OsInfoSource.SampleQueryOutput
      raw.split("\n").toSeq.filter(_.nonEmpty).toDF("line")
        .coalesce(1).write.mode("overwrite")
        .parquet(graft.etl.OsInfoSource.FixturePath)
      graft.etl.OsInfoSource.fromQueryOutput(s, raw, "host1", AsOf)
        .select(col(Meta.OID), col("name"), col("version"), col("release"),
          col("arch"), col("license"))
        .orderBy(Meta.OID)
    }),

    // ------------------------------------------- loaders / sources gates
    // CSV load through the mapper layer: the query round-trips nation
    // through a header CSV fixture, so schema inference, key
    // normalization and the OidColumn mapper are value-verified by
    // DuckDB's read_csv on the same files.
    "q_csv_load" -> ((s, dir) => {
      val fx = "/tmp/graft_fixtures/nation_csv"
      tbl(s, dir, "nation").orderBy("n_nationkey").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(fx)
      graft.etl.Loaders.loadCsv(s, fx, graft.etl.Loaders.OidColumn("n_nationkey"), AsOf)
        .select(col(Meta.OID).cast("long").as(Meta.OID), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy(Meta.OID)
    }),

    // JSON (array-of-objects) load; fixture is a single JSON array file
    // the oracle reads with read_json_auto.
    "q_json_load" -> ((s, dir) => {
      val fxDir = java.nio.file.Paths.get("/tmp/graft_fixtures/nation_json")
      java.nio.file.Files.createDirectories(fxDir)
      val rows = tbl(s, dir, "nation").orderBy("n_nationkey").toJSON.collect()
      java.nio.file.Files.writeString(
        fxDir.resolve("nation.json"), rows.mkString("[", ",\n", "]"))
      graft.etl.Loaders.loadJson(s, fxDir.resolve("nation.json").toString,
          graft.etl.Loaders.OidColumn("n_nationkey"), AsOf)
        .select(col(Meta.OID).cast("long").as(Meta.OID), col("n_name"),
          col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy(Meta.OID)
    }),

    // orient=index JSON ({id: {fields}}): ids become _oid. The oracle
    // re-derives rows from the same fixture via json_keys + dynamic
    // json_extract paths.
    "q_json_index" -> ((s, dir) => {
      val fxDir = java.nio.file.Paths.get("/tmp/graft_fixtures")
      java.nio.file.Files.createDirectories(fxDir)
      val text = """{"alpha": {"size": 10, "color": "red"}, """ +
        """"beta": {"size": 20, "color": "blue"}, """ +
        """"gamma": {"size": 15, "color": "red"}}"""
      java.nio.file.Files.writeString(fxDir.resolve("orient_index.json"), text)
      graft.etl.Loaders.loadJsonIndex(s, "/tmp/graft_fixtures/orient_index.json", AsOf)
        .select(col(Meta.OID), col("color"), col("size").cast("long").as("size"))
        .orderBy(Meta.OID)
    }),

    // FULL JDBC extraction loop, live: supplier parquet → embedded
    // Derby → striped partitioned spark.read.jdbc back out. The oracle
    // reads the source parquet directly, so any loss/corruption in the
    // write→extract round trip (types, CLOB mapping, stripe bounds)
    // breaks the hash.
    "q_jdbc_extract" -> ((s, dir) => {
      val url = "jdbc:derby:memory:graftverify;create=true"
      val props = new java.util.Properties()
      val sup = tbl(s, dir, "supplier")
      sup.write.mode("overwrite").jdbc(url, "supplier_src", props)
      val Array(lo, hi) = sup.agg(min("s_suppkey"), max("s_suppkey"))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      graft.etl.JdbcSource.read(s, url, "supplier_src", "s_suppkey", lo, hi, 8, props)
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("long").as("s_nationkey"), col("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // Extension-based file-type dispatch (reference load_file): the
    // SAME rows loaded through the .csv and .parquet branches must
    // agree — the join makes any dispatch/parse divergence a row loss
    // the oracle sees.
    "q_file_dispatch" -> ((s, dir) => {
      val csvFx = "/tmp/graft_fixtures/dispatch_csv"
      val pqFx = "/tmp/graft_fixtures/dispatch_parquet"
      val nation = tbl(s, dir, "nation")
      nation.orderBy("n_nationkey").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(csvFx)
      nation.orderBy("n_nationkey").coalesce(1)
        .write.mode("overwrite").parquet(pqFx)
      def part(d: String, ext: String) = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(ext)).head.getAbsolutePath
      val viaCsv = graft.etl.Loaders.loadFile(
          s, part(csvFx, ".csv"), graft.etl.Loaders.OidColumn("n_nationkey"), AsOf)
        .select(col(Meta.OID).cast("long").as(Meta.OID), col("n_name").as("name_csv"))
      val viaPq = graft.etl.Loaders.loadFile(
          s, part(pqFx, ".parquet"), graft.etl.Loaders.OidColumn("n_nationkey"), AsOf)
        .select(col(Meta.OID).cast("long").as(Meta.OID), col("n_name").as("name_parquet"))
      viaCsv.join(viaPq, Seq(Meta.OID)).orderBy(Meta.OID)
    }),

    // Plain-append insert sink: two disjoint halves of lineitem loaded
    // separately, one inserted into the other — aggregate over the
    // union must equal the oracle's aggregate over the whole table.
    "q_insert_sink" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val oidExpr = (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
      val c = Container.fromRaw(
        s, "li_ins", li.filter(col("l_orderkey") % 2 === 0), oidExpr, AsOf)
      val rest = Container.fromRaw(
        s, "li_rest", li.filter(col("l_orderkey") % 2 =!= 0), oidExpr, AsOf)
      c.insert(rest.df).df
        .groupBy(col("l_returnflag").as("flag"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("qty"))
        .orderBy("flag")
    }),

    // ORC interchange round trip: export documents to ORC, read back,
    // and aggregate per-group xors of full-row md5 fingerprints. The
    // oracle computes the same aggregate over the ORIGINAL parquet, so
    // equality proves the typed columnar round trip is lossless at the
    // content level, not just row counts.
    "q_orc_roundtrip" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val dest = java.nio.file.Files.createTempDirectory("graft-orc").toString
      graft.etl.Loaders.exportTable(docs, dest, "orc")
      // coalesce each field to a sentinel BEFORE concat: concat_ws
      // skips NULLs (making ("a",NULL,"b") hash like ("a","b",NULL))
      // while DuckDB's || would NULL-poison the whole hash — either
      // way the losslessness proof would break on nullable data
      def nn(c: org.apache.spark.sql.Column) =
        coalesce(c.cast("string"), lit("<NULL>"))
      val h64 = graft.functions.DedupExpressions.md5Lower64(
        concat_ws("\u0001",
          nn(col("doc_id")), nn(col("text")), nn(col("lang")),
          nn(col("source")), nn(col("n_chars"))))
      s.read.orc(dest)
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          bit_xor(h64).as("content_xor"))
        .orderBy("lang", "source")
    }),

    // Same losslessness proof through the avro writer/reader (row-major
    // interchange; provider class dispatched by name — see
    // Loaders.AvroProvider).
    "q_avro_roundtrip" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val dest = java.nio.file.Files.createTempDirectory("graft-avro").toString
      graft.etl.Loaders.exportTable(docs, dest, "avro")
      def nn(c: org.apache.spark.sql.Column) =
        coalesce(c.cast("string"), lit("<NULL>"))
      val h64 = graft.functions.DedupExpressions.md5Lower64(
        concat_ws("\u0001",
          nn(col("doc_id")), nn(col("text")), nn(col("lang")),
          nn(col("source")), nn(col("n_chars"))))
      s.read.format(graft.etl.Loaders.AvroProvider).load(dest)
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          bit_xor(h64).as("content_xor"))
        .orderBy("lang", "source")
    }),

    // Exact one-pass table profile (the ANALYZE / data-quality
    // report): row/null/distinct counts and min/max per column, over
    // documents plus a derived nullable column so the null path is
    // exercised.
    "q_profile" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        when(col("lang") === "en", lit(null).cast("string"))
          .otherwise(col("lang")).as("lang_nn"))
      graft.functions.Sketches.profileTable(d, exact = true)
        .orderBy("column")
    }),

    // IN-list batched extraction (the reference's 999/5000-oid batch
    // shape): oidBatchPredicates → one partition per IN-list via
    // readByPredicates, against live Derby.
    "q_jdbc_batched" -> ((s, dir) => {
      val url = "jdbc:derby:memory:graftbatch;create=true"
      val props = new java.util.Properties()
      val sup = tbl(s, dir, "supplier")
      sup.write.mode("overwrite").jdbc(url, "supplier_b", props)
      val oids = sup.select("s_suppkey").orderBy("s_suppkey")
        .collect().map(_.getLong(0)).toSeq
      // Spark's JDBC writer creates case-sensitive quoted columns in
      // Derby, so the hand-built predicates must quote too
      val preds = graft.etl.JdbcSource.oidBatchPredicates(
        "\"s_suppkey\"", oids, batchSize = 17)
      graft.etl.JdbcSource.readByPredicates(s, url, "supplier_b", preds, props)
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("long").as("s_nationkey"), col("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // Raw-SQL passthrough executor (container self-registers as a temp
    // view; reference: sqlalchemy.py:528-547).
    "q_execute_sql" -> ((s, dir) => {
      lineitemContainer(s, dir).execute(
        """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          FROM lineitem GROUP BY l_returnflag ORDER BY flag""")
    }),

    // http-fetch wrapper over file:// (zero-egress env): retry → temp
    // file → extension dispatch → cleanup, value-verified against the
    // fetched bytes (reference: utils.py:1340-1359).
    "q_http_fetch" -> ((s, dir) => {
      val fx = "/tmp/graft_fixtures/fetch_csv"
      tbl(s, dir, "region").orderBy("r_regionkey").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(fx)
      val part = new java.io.File(fx).listFiles()
        .filter(_.getName.endsWith(".csv")).head
      graft.etl.Fetch.loadUrl(s, "file://" + part.getAbsolutePath,
          graft.etl.Loaders.OidColumn("r_regionkey"), AsOf)
        .select(col(Meta.OID).cast("long").as(Meta.OID), col("r_name"))
        .orderBy(Meta.OID)
    }),

    // ------------------------------------------------ result-op gates
    // groupby-apply per oid (flatMapGroups): keep only objects with
    // >= 4 versions — an order-independent per-group predicate the
    // oracle replays as a window count.
    "q_object_apply" -> ((s, dir) => {
      versionedEvents(s, dir)
        .select(col(Meta.OID), col(Meta.START), col("event_type"), col("value"))
        .objectApply(rows => if (rows.size >= 4) rows else Nil)
        .orderBy(col(Meta.OID), col(Meta.START), col("event_type"), col("value"))
    }),

    "q_filter_oids" -> ((s, dir) => {
      versionedEvents(s, dir).filterOids(1L to 40L)
        .select(col(Meta.OID), col(Meta.START), col("event_type"))
        .orderBy(col(Meta.OID), col(Meta.START), col("event_type"))
    }),

    // BoundedResult: the remembered-bounds wrapper delegating to onDate
    // (out-of-bounds raising is spec-tested; the in-bounds path is the
    // oracle-checkable part).
    "q_bounds_ondate" -> ((s, dir) => {
      TemporalOps.BoundedResult(versionedEvents(s, dir),
          Some(ts("2024-01-05")), Some(ts("2024-01-20")))
        .onDate(ts("2024-01-10"))
        .select(col(Meta.OID), col(Meta.START), col("event_type"))
        .orderBy(col(Meta.OID), col(Meta.START), col("event_type"))
    }),

    // Epoch-double → timestamp view. Spark's timestamp_seconds(double)
    // TRUNCATES to micros (.toLong) where DuckDB's to_timestamp rounds;
    // the oracle replicates the truncation with trunc(_start*1e6) +
    // make_timestamp so the rendered strings are bit-identical.
    "q_epoch_view" -> ((s, dir) => {
      versionedEvents(s, dir).withTimestamps
        .select(col(Meta.OID), col(Meta.START),
          date_format(col("_start_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("start_str"))
        .orderBy(col(Meta.OID), col(Meta.START))
    }),

    // Streaming exact dedup (dropDuplicatesWithinWatermark). WHICH row
    // of a key survives within a micro-batch is partition-order
    // dependent, so the gate projects the surviving KEY SET — exactly
    // the deterministic contract of first-arrival dedup.
    "q_stream_dedup" -> ((s, dir) => {
      runStreamGate(s, dir, "events", EventsStreamSchema, "dedup", "append") { st =>
        graft.streaming.StreamIngest.streamingDedup(
          st.withColumn("__evt", col("ts")),
          Seq("user_id", "event_type"), "__evt", "30 minutes")
      }
        .select(col("user_id").cast("long").as("user_id"), col("event_type"))
        .distinct()
        .orderBy("user_id", "event_type")
    }),

    // ------------------------------------- corpus-curation scale ops
    // SemDeDup-style semantic dedup: anchor coarse-quantize (md5
    // bottom-k anchors — engine-replicable), within-cluster cosine
    // edges at tau, component-min canonical. Oracle re-derives anchors,
    // assignment argmax, edges, and components (recursive CTE).
    // maxCellSize=40 deliberately fires on this corpus's largest cell
    // (48 members at sf0.01), so the over-cap exemption path — rows
    // skipped by the edge join but flagged `exempted` — is itself
    // value-gated, exactly like knnJoin's replicated bucket cap.
    "q_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(
          tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 16,
          tau = 0.35, maxCellSize = 40L)
        .orderBy("vec_id")
    }),

    // The exempted-cell RECOVERY path: k=2 over the whole corpus plants
    // cells far over the cap (≈n/2 each vs cap 150 at sf0.01), so
    // every row would be exempted without recovery; one bounded
    // recluster level (finer md5-:anchor2 sub-anchors) brings every
    // sub-cell under the cap and the oracle replays the same two-level
    // recipe, proving exempted drops to zero end-to-end.
    "q_semantic_recluster" -> ((s, dir) => {
      Similarity.semanticDedup(
          tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 2,
          tau = 0.35, maxCellSize = 150L, reclusterExempted = true)
        .orderBy("vec_id")
    }),

    // Cross-document duplicated 8-gram spans (substring-dedup signal):
    // per-doc count/islands/longest-span of n-grams shared by >= 2 docs.
    "q_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpans(tbl(s, dir, "documents"), "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy("doc_id")
    }),

    // Exact-substring REMOVAL (Lee et al.-style) — every token covered
    // by a cross-doc duplicated 8-gram is cut from the normalized
    // token stream; gate checks per-doc token counts and the md5 of
    // the rebuilt text.
    "q_remove_spans" -> ((s, dir) => {
      Dedup.removeDuplicatedSpans(tbl(s, dir, "documents"), "doc_id", "text",
          n = 8, minDocs = 2)
        .select(col("doc_id"), col("n_tokens"), col("n_removed_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Incremental ingest dedup: batch = doc_id >= 400 screened against
    // the persisted signatures of the < 400 corpus; dup_of = smallest
    // matching corpus id (NULL = novel). Signatures, bands, and match
    // ratios all md5-replicated by the oracle.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val corpusSigs = docs.filter(col("doc_id") < 400)
        .select(col("doc_id").as("id"),
          graft.functions.DedupExpressions.minhashSig(col("text"), 64, 3).as("sig"))
      // the rolling-ingest shape: the index (sigs + pruned band rows)
      // is PERSISTED and read back — batch screening touches no corpus
      // text and recomputes no bucket stats
      val base = "/tmp/graft_fixtures/sig_index"
      val idx = Dedup.buildSignatureIndex(corpusSigs)
      idx.sigs.write.mode("overwrite").parquet(base + "/sigs")
      idx.bands.write.mode("overwrite").parquet(base + "/bands")
      val stored = Dedup.SignatureIndex(
        s.read.parquet(base + "/sigs"), s.read.parquet(base + "/bands"),
        idx.nBands, idx.rowsPerBand)
      Dedup.dedupAgainstIndex(
          docs.filter(col("doc_id") >= 400), "doc_id", "text", stored,
          threshold = 0.5)
        .orderBy("doc_id")
    }),

    // Corpus-frequency rarity profile (integer-exact TF-IDF-shaped
    // quality signal). maxCount=100 sits inside this corpus's tiny
    // 31-token vocabulary (counts 26..964) so the gate is non-trivial.
    "q_corpus_rarity" -> ((s, dir) => {
      TextFunctions.corpusRarity(tbl(s, dir, "documents"), "doc_id", "text",
          maxCount = 100L)
        .orderBy("doc_id")
    }),

    // CCNet-style unigram surprisal: per-token nll snapped to integer
    // nano-nats before the per-doc sum, so nll_nano is integer-exact
    // across engines (same recipe as q_tfidf_terms' score_nano).
    "q_surprisal" -> ((s, dir) => {
      TextFunctions.unigramSurprisal(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Bigram stupid-backoff LM: train on even doc_ids, score the odd
    // ones — the two-corpus split is what makes the backoff branch
    // (the whole point of the operator) actually fire at the gate.
    "q_bigram_lm" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      TextFunctions.bigramLmScore(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // WordPiece/MaxMatch greedy encode over the BPE-trained vocab:
    // longest-vocab-match segmentation per distinct corpus word. The
    // oracle precomputes best-match lengths with plain joins and
    // follows the successor chain with a RECURSIVE CTE — greedy +
    // longest is deterministic, so the piece STRINGS are pinned, not
    // just counts.
    "q_wordpiece" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = TextFunctions.bpeTrainWithVocab(docs, "text", numMerges = 16)
        ._2.select("token").collect().map(_.getString(0)).toSeq
      docs.select(explode(regexp_extract_all(
            lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
        .distinct()
        .select(col("word"),
          graft.functions.WordpieceExpr(col("word"), vocab,
            continuationPrefix = "", unk = "[UNK]").as("_p"))
        .select(col("word"), size(col("_p")).as("n_pieces"),
          array_join(col("_p"), "|").as("pieces"))
        .orderBy("word")
    }),

    // OPTIMAL lattice segmentation (SentencePiece unigram decode with
    // uniform scores = minimum piece count, longest-piece tie-break)
    // over the same BPE-trained vocab as q_wordpiece — the greedy/
    // optimal pair shares one vocab so their divergence is the
    // measured quantity. Oracle: BFS-from-the-end recursive CTE gives
    // min pieces per suffix, then the wp_seg-style chain walk follows
    // the longest optimal edge — the piece STRINGS are pinned.
    "q_lattice_encode" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = TextFunctions.bpeTrainWithVocab(docs, "text", numMerges = 16)
        ._2.select("token").collect().map(_.getString(0)).toSeq
      docs.select(explode(regexp_extract_all(
            lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
        .distinct()
        .select(col("word"),
          graft.functions.LatticeEncodeExpr(col("word"), vocab).as("_p"))
        .select(col("word"), size(col("_p")).as("n_pieces"),
          array_join(col("_p"), "|").as("pieces"))
        .orderBy("word")
    }),

    // SCORED unigram (SentencePiece) decode: piece costs are integer
    // nano-nat unigram LM surprisals from corpus-weighted substring
    // occurrence counts; Viterbi minimizes the exact integer total
    // (piece-count tie-break folded in as eff = 1024·cost + 1,
    // longest-first for what remains). The oracle replays counts,
    // costs, the backward DP (a list-carrying recursive CTE), the
    // chain walk, AND the total cost — every number is pinned.
    "q_unigram_encode" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = TextFunctions.bpeTrainWithVocab(docs, "text", numMerges = 16)
        ._2.select("token").collect().map(_.getString(0)).toSeq
      val costs = TextFunctions.unigramCosts(docs, "text", vocab)
      TextFunctions.unigramEncodeWords(docs, "text", vocab, costs.toSeq)
        .orderBy("word")
    }),

    // Unigram-LM (SentencePiece) TRAINING — Kudo '18 §3.2 in its
    // Viterbi (hard-EM) form, every step an exact integer: substring
    // seed (120 pieces, <=5 chars) → Viterbi round under nano-nat
    // costs → prune to 40 (chars mandatory) + reprice → second round.
    // The oracle replays ALL of it: seed counts, both recursive-CTE
    // Viterbi rounds, the prunes, the ln-rounded repricing.
    "q_unigram_train" -> ((s, dir) => {
      TextFunctions.unigramTrain(tbl(s, dir, "documents"), "text",
          vocabSize = 40, maxTokenLen = 5, seedSize = 120, emRounds = 2)
        .orderBy("token")
    }),

    // The TRAINED unigram vocab through the scored Viterbi decoder —
    // the q_wordpiece_bert analog for this family: piece usage counts
    // of the learned (vocab, costs) over the whole corpus. The oracle
    // chains the full training replay into a third decode round, so
    // agreement pins train AND apply end to end.
    "q_unigram_apply" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val trained = TextFunctions.unigramTrain(docs, "text",
          vocabSize = 40, maxTokenLen = 5, seedSize = 120, emRounds = 2)
        .collect()
      val vocab = trained.map(_.getString(0)).toSeq
      val costs = trained.map(_.getLong(2)).toSeq
      TextFunctions.unigramUsageCounts(docs, "text", vocab, costs)
        .orderBy("token")
    }),

    // SOFT-EM unigram training (Kudo '18 §3.2 proper): one
    // forward-backward E-step over every word's lattice + the M-step
    // reprice, in the prune-neutral configuration (vocabSize ==
    // seedSize) so the float-noise-sensitive prune ordering stays out
    // of the oracle; costs pinned at MILLI-NAT granularity — coarse
    // enough that cross-engine exp/ln ulp differences cannot flip a
    // value, fine enough that a wrong posterior is loud. The prune
    // path (likelihood-loss ranking) is spec-verified instead.
    "q_unigram_em" -> ((s, dir) => {
      TextFunctions.unigramTrainSoft(tbl(s, dir, "documents"), "text",
          vocabSize = 120, maxTokenLen = 5, seedSize = 120, emRounds = 1)
        .select(col("token"), col("cost_milli"))
        .orderBy("token")
    }),

    // RIFF chunk-walk WAV parsing: four layouts (canonical; LIST
    // before fmt; fact between fmt and data; odd-size LIST testing
    // word alignment) carry the SAME id-derived format fields — the
    // oracle is layout-independent arithmetic, so agreement proves
    // the walker handles every chain shape.
    "q_wav_chunks" -> ((s, dir) => {
      val assets = Multimodal.syntheticWavAssets(s, 200)
      assets.select(col("asset_id"),
          graft.functions.WavChunkExpr(col("content")).as("w"))
        .select(col("asset_id"),
          coalesce(col("w.channels"), lit(-1)).as("channels"),
          coalesce(col("w.sample_rate_hz"), lit(-1)).as("sample_rate_hz"),
          coalesce(col("w.bits"), lit(-1)).as("bits"),
          coalesce(col("w.duration_ms"), lit(-1L)).as("duration_ms"))
        .orderBy("asset_id")
    }),

    // Winnowing fingerprints (MOSS, SIGMOD'03): per-doc window
    // argmins over positional 4-gram hashes — every selected
    // (pos, hash) pinned; the oracle replays each window's
    // rightmost unsigned min directly.
    "q_winnow" -> ((s, dir) => {
      Dedup.winnowFingerprints(tbl(s, dir, "documents"), "doc_id", "text",
          k = 4, w = 4)
        .orderBy("id", "pos")
    }),

    // The MOSS similarity report: pairs sharing >= 2 distinct
    // winnowed fingerprints, counted — position-aware near-dup
    // evidence at ~2/(w+1) of the full-gram volume.
    "q_winnow_pairs" -> ((s, dir) => {
      Dedup.winnowMatches(tbl(s, dir, "documents"), "doc_id", "text",
          k = 4, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")
    }),

    // Token-budget selection: the longest documents first until 100k
    // chars of budget — exact global prefix sums via the rankBy
    // two-phase shape (no single-partition window), boundary doc
    // excluded deterministically.
    "q_token_budget" -> ((s, dir) => {
      graft.functions.Curation.selectToBudget(
          tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id").asc), "n_chars",
          budget = 100000L)
        .select("doc_id", "rank", "cum_tokens")
        .orderBy("doc_id")
    }),

    // Bloom-filter seen-screen: filter built over the even-doc_id half
    // of the corpus (distributed bit_or word packing), every document
    // probed — members always hit, non-members hit only on the
    // deterministic false-positive collision, which the oracle
    // replays exactly from the position algebra (m=4096 bits, k=4 →
    // a real ~35% FP load, so the gate pins actual Bloom behavior,
    // not a degenerate all-false column).
    "q_bloom_screen" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bloom = graft.functions.Sketches.bloomBuild(
        docs.filter(col("doc_id") % 2 === 0), "text", mBits = 4096, numHashes = 4)
      graft.functions.Sketches.bloomProbe(
          docs, "doc_id", "text", bloom, mBits = 4096, numHashes = 4)
        .orderBy("doc_id")
    }),

    // The FULL BERT shape end-to-end: WordPiece-TRAINED vocab (##
    // continuation algebra) driving the greedy ##-continuation
    // encoder — train and encode semantics pinned together. The
    // oracle rebuilds the vocab from the chained likelihood-scored
    // merge stages (base stage-0 symbols + first-formation merged
    // tokens), computes the best match per (word, pos) with the
    // initial/continuation split, and walks the successor chain.
    "q_wordpiece_bert" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = TextFunctions.wordpieceVocab(docs, "text", numMerges = 8)
      docs.select(explode(regexp_extract_all(
            lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
        .distinct()
        .select(col("word"),
          graft.functions.WordpieceExpr(col("word"), vocab).as("_p"))
        .select(col("word"), size(col("_p")).as("n_pieces"),
          array_join(col("_p"), "|").as("pieces"))
        .orderBy("word")
    }),

    // WordPiece TRAINING (likelihood-scored merges): the q_bpe_train
    // shape with score count(ab)/(count(a)·count(b)) — the oracle
    // replays every stage's arg-max with a HUGEINT cross-multiplied
    // anti-join (exact rational comparison, no division) over the
    // same chained separator-replace CTEs, so the learned merge
    // TABLE is pinned bit-for-bit, continuation-## algebra included.
    "q_wordpiece_train" -> ((s, dir) => {
      TextFunctions.wordpieceTrain(
          tbl(s, dir, "documents"), "text", numMerges = 8)
        .orderBy("rank")
    }),

    // The distributed WordPiece trainer (likelihood arg-max as two
    // equi-joins against the incrementally-folded symbol table +
    // a driver-exact decision over the double-margin candidates)
    // must learn the IDENTICAL merge table: same cross-multiplied
    // chained-CTE oracle as q_wordpiece_train.
    "q_wordpiece_train_dist" -> ((s, dir) => {
      TextFunctions.wordpieceTrainDistributed(
          tbl(s, dir, "documents"), "text", numMerges = 8)
        .orderBy("rank")
    }),

    // Weighted sampling without replacement (A-ES in exact integers):
    // weight = doc length, k = 50 — the oracle recomputes the
    // md5-derived uniform, the nano-log key, and the truncating
    // weight division, so the SELECTED SET is pinned, not just its
    // size.
    "q_weighted_sample" -> ((s, dir) => {
      graft.functions.Curation.weightedBottomKSample(
          tbl(s, dir, "documents"), col("doc_id"), length(col("text")), k = 50)
        .select("doc_id").orderBy("doc_id")
    }),

    // Content-defined chunking, pure-mask form: every chunk boundary
    // (rolling polynomial hash of the last 16 code points masking to
    // 0 mod 64) plus each chunk's 1-based offsets and md5-lower-64 —
    // the oracle recomputes every window hash directly from the
    // polynomial definition, so the kernel's incremental update is
    // pinned against the algebra, not against itself.
    "q_cdc_chunks" -> ((s, dir) => {
      graft.functions.Cdc.chunks(
          tbl(s, dir, "documents"), "doc_id", "text", window = 16, divisor = 64)
        .orderBy("doc_id", "chunk_idx")
    }),

    // Cross-doc shared blocks over a shifted-twin corpus (each doc
    // unioned with a prefix-edited copy): the CDC re-alignment
    // property as a GATE — twins must share most of their chunk
    // hashes despite the offset, which fixed-stride blocking would
    // fail outright.
    "q_shared_blocks" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("zzzz "), col("text")).as("text"))
      graft.functions.Cdc.sharedBlocks(
          docs.unionByName(twins), "doc_id", "text", window = 16, divisor = 64)
        .orderBy("chunk_hash")
    }),

    // Order-0 char entropy in integer nano-nats: per-distinct-symbol
    // rounding then exact integer sum/division — the oracle groups
    // the same code-point stream and replays the identical algebra.
    "q_char_entropy" -> ((s, dir) => {
      TextFunctions.charEntropy(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Global rank + exact micro-ECDF over a total order WITHOUT a
    // single-partition window: the two-phase range-partition + offset
    // counter must equal row_number() over the same order at any
    // partitioning (ties broken by the id key).
    "q_rank_normalize" -> ((s, dir) => {
      graft.functions.Curation.rankNormalize(
          tbl(s, dir, "documents"),
          Seq(length(col("text")), col("doc_id")), numPartitions = 8)
        .select("doc_id", "rank", "pct_micro")
        .orderBy("doc_id")
    }),

    // Aho-Corasick blocklist scan: one automaton pass per document
    // over 8 deliberately nasty patterns (substrings of corpus words,
    // shared prefixes, a cross-token space pattern) — every
    // occurrence counts, overlapping/nested included, which is
    // exactly what the oracle's per-position substring scan counts.
    "q_blocklist" -> ((s, dir) => {
      graft.functions.Blocklist.hits(
          tbl(s, dir, "documents"), "doc_id", "text", BlocklistPatterns)
        .orderBy("doc_id")
    }),

    // Trigram stupid-backoff LM on the same even/odd split — one
    // context word deeper than q_bigram_lm, so the gate exercises all
    // five nll branches (seen trigram, single alpha, double alpha,
    // and the two bigram-level i=2 branches).
    "q_trigram_lm" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      TextFunctions.trigramLmScore(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Word-bigram type/token diversity per language bucket (exact
    // form; the HLL twin approxNgramDiversity is probe-only surface)
    "q_ngram_diversity" -> ((s, dir) => {
      TextFunctions.ngramDiversity(tbl(s, dir, "documents"), "lang", "text", n = 2)
        .orderBy("lang")
    }),

    // Quantized ANN serving path: int8 candidate scoring in the probed
    // IVF cells, float rerank of the top 4k — recall gated against the
    // full-precision brute force exactly like q_ann_ivf.
    "q_ann_quantized" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val cents = ivfCentroids(s, dir)
      val queries = emb.filter(col("vec_id") < 5).orderBy("vec_id")
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val qdf = queries.toSeq.map { case (qid, qv) => (qid, qv.toArray) }
        .toDF("query_id", "qvec")
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))
      val brute = emb
        .crossJoin(broadcast(qdf))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("score"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      val ann = queries.map { case (qid, qv) =>
        Similarity.annTopKIvfQuantized(emb, "vec_id", "embedding", qv, 10, cents)
          .select(lit(qid).as("query_id"), col("vec_id"))
      }.reduce(_ unionByName _)
      ann.join(brute.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), (col("n_hits") >= 3).as("recall_ok"))
        .orderBy("query_id")
    }),

    // Streaming content dedup: first-arrival dedup keyed on the md5
    // content FINGERPRINT (not raw text — fixed-width state at any
    // scale). Output is the surviving fingerprint set; signed-BIGINT
    // recipe on the oracle side as in q_fingerprint.
    "q_stream_fingerprint" -> ((s, dir) => {
      runStreamGate(s, dir, "documents", DocumentsStreamSchema, "fpdedup", "append") { st =>
        graft.streaming.StreamIngest.streamingDedup(
          st.withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
            // synthetic event time well above the watermark delay so no
            // fixture row sits at the initial watermark boundary
            .withColumn("__evt", timestamp_seconds(col("doc_id") + lit(7200L))),
          Seq("fp"), "__evt", "30 minutes")
      }.select(col("fp")).distinct().orderBy("fp")
    }),

    // The Gopher-style rule filter as a STREAMING stage: qualityFilter
    // is a pure projection since the QualityStatsExpr fusion, so it
    // drops into readStream→writeStream append mode with no watermark
    // or state — the shape a continuous ingest pipeline actually runs.
    // Same thresholds and oracle as the batch gate: the streamed
    // result over the same rows IS the batch result.
    "q_stream_quality" -> ((s, dir) => {
      runStreamGate(s, dir, "documents", DocumentsStreamSchema, "quality", "append") { st =>
        TextFunctions.qualityFilter(st, "doc_id", "text",
            minTokens = 20, maxTokens = 90, minStopRatio = 0.03,
            minMeanWordLen = 3.0, maxMeanWordLen = 5.0, maxTopTokenFrac = 0.2)
          .withColumn("reasons", array_join(col("reasons"), "|"))
      }.orderBy("doc_id")
    }),

    // Streaming OOV screen: the scan-side OovStatsExpr kernel as a
    // stateless stream stage — the vocab (batch-induced top-40,
    // collected driver-side exactly as a cluster job would broadcast
    // it) rides the task closure, so the streamed result over the
    // same rows IS the batch q_oov result and shares its oracle.
    "q_stream_oov" -> ((s, dir) => {
      val vocabTerms = TextFunctions
        .buildVocab(tbl(s, dir, "documents"), "text", size = 40)
        .select("term").collect().map(_.getString(0)).toSeq
      runStreamGate(s, dir, "documents", DocumentsStreamSchema, "oov", "append") { st =>
        TextFunctions.oovRateScan(st, "doc_id", "text", vocabTerms)
      }.orderBy("doc_id")
    }),

    // Streaming BPE token-budget screen: merges batch-trained (the
    // merge table is exactly what a cluster job would broadcast),
    // counting is the one-pass BpeEncodeExpr kernel — a stateless
    // projection, so the streamed counts over the same rows ARE the
    // batch q_bpe_encode result and share its oracle.
    "q_stream_bpe" -> ((s, dir) => {
      val merges = TextFunctions.collectMerges(
        TextFunctions.bpeTrain(tbl(s, dir, "documents"), "text", numMerges = 16))
      runStreamGate(s, dir, "documents", DocumentsStreamSchema, "bpe", "append") { st =>
        TextFunctions.bpeTokenCounts(st, "doc_id", "text", merges)
      }.orderBy("doc_id")
    }),

    // Streaming quality-classifier screen: weights batch-trained then
    // collected driver-side (512 KiB — exactly what a cluster job
    // would broadcast), scoring is the one-pass ClassifierScoreExpr
    // kernel — a stateless projection, so the streamed verdicts over
    // the same rows ARE the batch q_classifier_score result and share
    // its oracle.
    "q_stream_classifier" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val w = graft.functions.Curation.collectClassifierWeights(
        graft.functions.Curation.trainTokenClassifier(
          docs.filter(col("lang") === "en"), "text",
          docs.filter(col("lang") === "zh"), "text"))
      runStreamGate(s, dir, "documents", DocumentsStreamSchema, "classifier", "append") { st =>
        graft.functions.Curation.classifierScoreScan(st, "doc_id", "text", w)
      }.orderBy("doc_id")
    }),

    // Streaming near-dup screen: the incremental-dedup operator as a
    // stream-static foreachBatch stage — 3 micro-batches
    // (maxFilesPerTrigger=1 over a 3-file source) screened against the
    // static signature index built from the < 400 corpus; the appended
    // union must equal the batch screen, verified by the SAME oracle
    // as q_dedup_incremental.
    "q_stream_neardedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val corpusSigs = docs.filter(col("doc_id") < 400)
        .select(col("doc_id").as("id"),
          graft.functions.DedupExpressions.minhashSig(col("text"), 64, 3).as("sig"))
      val tmpBase = streamScratchBase
      // PERSIST the index (as q_dedup_incremental does) — passing the
      // lazy frames into foreachBatch would recompute corpus
      // signatures and bucket stats inside EVERY micro-batch, which is
      // exactly what the stored-index contract exists to avoid
      val idxBase = java.nio.file.Files.createTempDirectory(tmpBase, "graft-nd-idx").toString
      val built = Dedup.buildSignatureIndex(corpusSigs)
      built.sigs.write.mode("overwrite").parquet(idxBase + "/sigs")
      built.bands.write.mode("overwrite").parquet(idxBase + "/bands")
      val idx = Dedup.SignatureIndex(
        s.read.parquet(idxBase + "/sigs"), s.read.parquet(idxBase + "/bands"),
        built.nBands, built.rowsPerBand)
      val srcDir = java.nio.file.Files.createTempDirectory(tmpBase, "graft-nd-src").toString
      docs.filter(col("doc_id") >= 400).repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(srcDir)
      val outDir = java.nio.file.Files.createTempDirectory(tmpBase, "graft-nd-out").toString
      val ck = java.nio.file.Files.createTempDirectory(tmpBase, "graft-nd-ck").toString
      val q = graft.streaming.StreamIngest.screenStreamAgainstIndex(
        s.readStream.schema(DocumentsStreamSchema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        "doc_id", "text", idx, threshold = 0.5, ck) { (res, _) =>
        res.write.mode("append").parquet(outDir)
      }
      q.awaitTermination()
      s.read.parquet(outDir).orderBy("doc_id")
    }),

    // Overlapping-window document chunking: every boundary is integer
    // arithmetic, chunk text reassembled in token order; oracle
    // replays it with zipped unnest + string_agg ORDER BY pos.
    "q_chunk_docs" -> ((s, dir) => {
      graft.functions.Curation.chunkDocuments(
          tbl(s, dir, "documents"), "doc_id", "text", maxTokens = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"),
          col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"),
          col("n_tokens"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Distributed Lloyd's k-means over int8-quantized embeddings:
    // integer-exact iterations (order-independent sums, round-half-up
    // centroid division, ties to the lower cell), so the oracle
    // replays BOTH iterations bit-for-bit — no float formulation
    // survives cross-engine hashing.
    "q_kmeans" -> ((s, dir) => kmeansCells(s, dir).orderBy("vec_id")),

    // Product-quantized ANN (Jégou et al. 2011): m=4 int8 sub-space
    // codebooks (k=4, 2 Lloyd iterations each — ONE fused aggregation
    // job per iteration), 4-byte codes per 64-dim vector, exact
    // integer ADC distances for vec 0's query. Everything is integer,
    // so the oracle replays fit → encode → ADC top-10 BIT-FOR-BIT —
    // no recall band, the distances themselves hash-match.
    "q_ann_pq" -> ((s, dir) => {
      val art = pqArtifacts(s, dir)
      Similarity.pqAdcTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          annQueryVec(s, dir), k = 10, scale = art.scale, codebooks = art.cbs)
        .orderBy("adc_dist", "vec_id")
    }),

    // The PQ TRAINING job as its own timed/gated surface (r12 verdict:
    // serving rows must not re-pay ~1.5 s of fit noise per bench run):
    // a FRESH pqFitInt8 every invocation, codebooks emitted as
    // flattened (sub, idx, j, v) centroid coordinates the oracle
    // replays bit-for-bit via the shared pq_c2 algebra.
    "q_ann_pq_fit" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val scale = Similarity.kmeansGlobalScale(emb, "embedding")
      val cbs = Similarity.pqFitInt8(emb, "vec_id", "embedding",
        m = 4, k = 4, iters = 2, scale = scale)
      cbs.zipWithIndex.flatMap { case (cb, sub) =>
        cb.zipWithIndex.flatMap { case (cent, idx) =>
          cent.zipWithIndex.map { case (v, j) =>
            (sub.toLong, idx.toLong, (j + 1).toLong, v) } }
      }.toSeq.toDF("sub", "idx", "j", "v")
        .orderBy("sub", "idx", "j")
    }),

    // IVF-PQ — the full FAISS-style composition: coarse integer
    // k-means cells, PQ codebooks fit on the integer RESIDUALS,
    // queries probe the 2 nearest cells and ADC-score only their
    // rows. Integer end to end, so the oracle replays coarse fit →
    // residuals → PQ fit → probe → ADC top-10 bit-for-bit.
    "q_ann_ivfpq" -> ((s, dir) => {
      val art = ivfPqArtifacts(s, dir)
      Similarity.ivfPqTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          annQueryVec(s, dir), kTop = 10, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // The IVF-PQ TRAINING job (coarse k-means + residual PQ fit) as
    // its own timed/gated surface — fresh ivfPqFit per invocation,
    // coarse centroids AND codebooks flattened to scalar rows; the
    // oracle replays both fits (the shared c2 + pq_c2 algebra over
    // residuals) bit-for-bit. Serving gates read the memoized
    // artifacts instead of re-fitting (the published-index split).
    "q_ann_ivfpq_fit" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val scale = Similarity.kmeansGlobalScale(emb, "embedding")
      val (coarse, cbs) = Similarity.ivfPqFit(emb, "vec_id", "embedding",
        coarseK = 4, m = 4, k = 4, iters = 2, scale = scale)
      val rows =
        coarse.zipWithIndex.flatMap { case (cent, idx) =>
          cent.zipWithIndex.map { case (v, j) =>
            ("coarse", -1L, idx.toLong, (j + 1).toLong, v) } } ++
        cbs.zipWithIndex.flatMap { case (cb, sub) =>
          cb.zipWithIndex.flatMap { case (cent, idx) =>
            cent.zipWithIndex.map { case (v, j) =>
              ("codebook", sub.toLong, idx.toLong, (j + 1).toLong, v) } } }
      rows.toSeq.toDF("kind", "sub", "idx", "j", "v")
        .orderBy("kind", "sub", "idx", "j")
    }),

    // The PRODUCTION PQ serving path: encode the corpus ONCE
    // (savePqEncoded — m bytes of code per vector), then answer the
    // same top-10 by READING the stored codes — no re-quantize, no
    // re-assign. Bit-equal to q_ann_pq, so the same oracle pins the
    // distances.
    "q_ann_pq_persisted" -> ((s, dir) => {
      val art = pqArtifacts(s, dir)
      Similarity.pqAdcTopKFromCodes(s.read.parquet(art.codesPath), "vec_id",
          annQueryVec(s, dir), k = 10, scale = art.scale, codebooks = art.cbs)
        .orderBy("adc_dist", "vec_id")
    }),

    // The PRODUCTION IVF-PQ serving layout: codes stored PARTITIONED
    // BY COARSE CELL (saveIvfPqEncoded), so the nProbe cell filter
    // lands as on-disk partition pruning (a top-10 reads 2/4 of the
    // FILES — at 100 TB, nProbe/coarseK of the corpus) and the
    // per-cell residual ADC tables ride one tiny broadcast join.
    // Bit-equal to q_ann_ivfpq (same integers end to end); PlanSpec
    // pins PartitionFilters + BroadcastHashJoin + no re-encode.
    "q_ann_ivfpq_persisted" -> ((s, dir) => {
      val art = ivfPqArtifacts(s, dir)
      Similarity.ivfPqTopKFromCodes(s.read.parquet(art.codesPath), "vec_id",
          annQueryVec(s, dir), kTop = 10, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // STREAMING PQ screen: incoming embeddings scored statelessly
    // against a fixed anchor (vec 0) with stored codebooks — the
    // deployment that routes/filters a vector feed by distance
    // (semantic dedup admission, topic gating) without any state
    // store. Stateless => the streamed distances ARE the batch
    // distances, so the oracle is the batch ADC replay over every
    // row (no top-k). Codebooks fit once on the static table and
    // ride the task closure exactly as a cluster broadcast would.
    "q_stream_pq_screen" -> ((s, dir) => {
      val art = pqArtifacts(s, dir)
      val scale = art.scale
      val cbs = art.cbs
      val query = annQueryVec(s, dir)
      runStreamGate(s, dir, "embeddings", EmbeddingsStreamSchema,
          "pqscreen", "append") { st =>
        // drop null vectors BEFORE scoring — the oracle's pq_enc join
        // drops them too, so streamed == batch holds by construction
        // even if the fixture ever grows a null embedding (a null
        // adc_dist row would otherwise appear on the Spark side only)
        st.filter(col("embedding").isNotNull)
          .select(col("vec_id"),
            Similarity.pqAdcDistance(
              Similarity.pqEncodeQ(
                Similarity.kmeansQuantize(col("embedding"), scale), cbs),
              query, scale, cbs).as("adc_dist"))
      }.orderBy("vec_id")
    }),

    // STREAMING SEMANTIC-CONTAMINATION screen: each incoming
    // embedding scored statelessly against the broadcast-style
    // driver-quantized eval set — nearest eval by the argmin kernel,
    // exact integer L2, threshold flag. Stateless => streamed rows ==
    // the batch replay, so the oracle runs the same cross-join argmin
    // over every row. Eval = vec_id < 5 in id order, so the index IS
    // the eval id.
    "q_stream_semantic_screen" -> ((s, dir) => {
      val art = ivfPqArtifacts(s, dir)
      val evalRows = tbl(s, dir, "embeddings")
        .filter(col("vec_id") < 5 && col("embedding").isNotNull)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
      // map the argmin INDEX back to the eval id through an id
      // literal (the semanticScreenCols contract) — robust to a
      // future fixture null/hole in the 0..4 id range, which would
      // silently shift a positional mapping off the oracle's ids
      val evalIds = evalRows.map(_.getLong(0)).toSeq
      val evalQ = evalRows
        .map(r => Similarity.quantizeQueryVec(r.getSeq[Float](1), art.scale).toArray)
      runStreamGate(s, dir, "embeddings", EmbeddingsStreamSchema,
          "semscreen", "append") { st =>
        val (idx, dist) = graft.functions.Curation.semanticScreenCols(
          col("embedding"), art.scale, evalQ)
        st.filter(col("embedding").isNotNull)
          .select(col("vec_id"),
            element_at(typedLit(evalIds), idx + lit(1)).as("nearest_eval"),
            dist.as("exact_dist"), (dist <= lit(80000L)).as("contaminated"))
      }.orderBy("vec_id")
    }),

    // FILTERED ANN — the production "vector search under a metadata
    // predicate" feature, shown as PURE COMPOSITION: the stored code
    // layout joins its attribute (label) back on the id, the
    // predicate filters BEFORE scoring, and the unchanged
    // ivfPqTopKFromCodes serves the top-10 among survivors. No new
    // operator — the declarative layout is what makes the predicate
    // composable; oracle replays the same filter over the ADC chain.
    "q_ann_ivfpq_filtered" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val filtered = s.read.parquet(art.codesPath)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .filter(col("label") === 1)
      Similarity.ivfPqTopKFromCodes(filtered, "vec_id", annQueryVec(s, dir),
          kTop = 10, scale = art.scale, coarse = art.coarse,
          codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // INCREMENTAL index maintenance: half the corpus saved, the
    // other half APPENDED later with the same frozen index params
    // (fit once, encode forever — the living-index ingestion path);
    // a top-10 over the combined layout must equal the one-shot
    // encode bit for bit, so the q_ann_ivfpq oracle pins it.
    "q_ann_ivfpq_incremental" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val path = scratchDir("graft-ivfpq-inc").resolve("codes").toString
      Similarity.saveIvfPqEncoded(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", art.scale, art.coarse, art.cbs, path)
      Similarity.appendIvfPqEncoded(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", art.scale, art.coarse, art.cbs, path)
      Similarity.ivfPqTopKFromCodes(s.read.parquet(path), "vec_id",
          annQueryVec(s, dir), kTop = 10, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // LAYOUT COMPACTION: a living index built by EIGHT append batches
    // (one file set per batch per touched cell — exactly the
    // small-file accretion a production ingest cadence produces),
    // then compactIvfPqLayout rewrites every cell directory to one
    // file via the crash-safe staged swap. The top-10 over the
    // compacted layout must equal the one-shot encode BIT FOR BIT
    // (q_ann_ivfpq's oracle pins it) — compaction moves bytes, never
    // values — and PlanSpec pins that partition pruning still fires.
    "q_ann_ivfpq_compacted" -> ((s, dir) => {
      val art = ivfPqArtifacts(s, dir)
      // the 8-batch fragmented build is memoized per JVM and
      // file-copied here (compaction mutates its input) — the gate
      // times compact + serve, not eight encode jobs (r13 verdict #4)
      val path = fragmentedLayoutCopy(s, dir, batches = 8)
      Similarity.compactIvfPqLayout(s, path, filesPerCell = 1)
      Similarity.ivfPqTopKFromCodes(s.read.parquet(path), "vec_id",
          annQueryVec(s, dir), kTop = 10, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // INCREMENTAL per-cell compaction: the same 8-batch fragmented
    // layout, but the threshold pass rewrites ONLY the cells over
    // maxFilesPerCell (compactIvfPqCells — per-cell staged swaps;
    // maintenance cost proportional to the dirty fraction, the
    // steady-state cadence where ingest dirties a few hot cells).
    // Values are untouched either way, so the shared IVF-PQ oracle
    // pins the top-10 bit for bit.
    "q_ann_ivfpq_compact_cells" -> ((s, dir) => {
      val art = ivfPqArtifacts(s, dir)
      // memoized 4-batch fragmented build, file-copied per run
      val path = fragmentedLayoutCopy(s, dir, batches = 4)
      Similarity.compactIvfPqLayoutIfNeeded(s, path, maxFilesPerCell = 2,
        incremental = true)
      Similarity.ivfPqTopKFromCodes(s.read.parquet(path), "vec_id",
          annQueryVec(s, dir), kTop = 10, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // LAYOUT HEALTH: the per-cell stats report that drives the
    // compaction/re-fit policy — row counts per coarse cell must
    // equal the oracle's replay of the coarse assignment (the file
    // counts/bytes columns are filesystem observables, spec'd not
    // oracled).
    "q_ann_layout_cells" -> ((s, dir) => {
      val art = ivfPqArtifacts(s, dir)
      Similarity.ivfPqLayoutStats(s, art.codesPath)
        .select(col("cell"), col("n_rows"))
        .orderBy("cell")
    }),

    // DELETE SYNC: ids `vec_id % 7 == 3` are deleted from the raw
    // vector table AFTER the layout was built — the lagging-delete
    // hazard where the refine inner join silently drops candidates.
    // repairIvfPqLayout left-semi-joins the codes against the
    // surviving raw ids (and compacts), after which the refined
    // serving path answers over exactly the surviving corpus; the
    // oracle replays the ADC chain with the same ids removed.
    "q_ann_ivfpq_repaired" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      // file-copy of the shared encoded layout (repair mutates it)
      val path = artifactLayoutCopy(s, dir)
      val surviving = emb.filter(col("vec_id") % 7 =!= 3)
      Similarity.repairIvfPqLayout(s, path, surviving, "vec_id")
      Similarity.ivfPqTopKRefined(s.read.parquet(path), surviving, "vec_id",
          "embedding", annQueryVec(s, dir), kTop = 10, rerank = 50,
          scale = art.scale, coarse = art.coarse, codebooks = art.cbs,
          nProbe = 2)
        .orderBy("exact_dist", "vec_id")
    }),

    // INCREMENTAL (per-cell) DELETE SYNC: the same lagging-delete
    // scenario, repaired at O(delta) — repairIvfPqCells discovers the
    // deleted (id, cell) pairs in one column-pruned pass and rewrites
    // ONLY the cells that contain them (clean cells byte-untouched,
    // spec'd); the refined serving output is bit-equal to the
    // whole-layout repair, so the shared repaired oracle pins it.
    "q_ann_ivfpq_repair_cells" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val path = artifactLayoutCopy(s, dir)
      val surviving = emb.filter(col("vec_id") % 7 =!= 3)
      val repaired = Similarity.repairIvfPqCells(s, path, surviving, "vec_id")
      require(repaired.nonEmpty,
        "delete sync must find dirty cells for the %7 delete pattern")
      Similarity.ivfPqTopKRefined(s.read.parquet(path), surviving, "vec_id",
          "embedding", annQueryVec(s, dir), kTop = 10, rerank = 50,
          scale = art.scale, coarse = art.coarse, codebooks = art.cbs,
          nProbe = 2)
        .orderBy("exact_dist", "vec_id")
    }),

    // MAINTENANCE ORCHESTRATION — the one entry point an operator
    // schedules (maintainIvfPqLayout: crash sweep → per-cell delete
    // sync → incremental compaction threshold → sample recall →
    // refit-if-below-floor), exercised through its three steady-state
    // paths in one gate: a fragmented tick (compaction fires, nothing
    // to repair), a delete tick (only dirty cells rewritten, nothing
    // to compact), and the healthy tick (byte-identical no-op). The
    // final serving read is the plain ADC top-10 over the survivors —
    // oracle replays the chain minus the deleted ids. Floor 0 keeps
    // the (deterministic but expensive) refit out of the gate; the
    // refit-triggered path is spec'd (FunctionsSpec) and gated on its
    // own (q_ann_ivfpq_refit).
    "q_ann_ivfpq_maintain" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val path = fragmentedLayoutCopy(s, dir, batches = 4)
      val qsample = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def tick(raw: DataFrame) = Similarity.maintainIvfPqLayout(s, path,
        raw, "vec_id", "embedding", qsample, "query_id", "embedding",
        art.scale, art.coarse, art.cbs, k = 5, nProbe = 2,
        maxFilesPerCell = 2, recallFloorPermille = 0)
      val m1 = tick(emb)
      require(m1.compacted && m1.repairedCells.isEmpty && m1.refitParams.isEmpty,
        s"fragmented tick should only compact: $m1")
      val surviving = emb.filter(col("vec_id") % 7 =!= 3)
      val m2 = tick(surviving)
      require(m2.repairedCells.nonEmpty && !m2.compacted && m2.refitParams.isEmpty,
        s"delete tick should only repair: $m2")
      val m3 = tick(surviving)
      require(m3.repairedCells.isEmpty && !m3.compacted && m3.refitParams.isEmpty,
        s"healthy tick must be a no-op: $m3")
      Similarity.ivfPqTopKFromCodes(s.read.parquet(path), "vec_id",
          annQueryVec(s, dir), kTop = 10, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // STREAMING index ingest: the embeddings feed is encoded
    // statelessly (coarse assign + PQ codes per row) and written
    // STRAIGHT INTO the cell-partitioned serving layout by the
    // streaming parquet sink — index build as a continuously-running
    // job. A top-10 read from the streamed layout equals the batch
    // encode bit for bit (q_ann_ivfpq's oracle pins it).
    "q_stream_ann_ingest" -> ((s, dir) => {
      val art = ivfPqArtifacts(s, dir)
      val srcDir = scratchDir("graft-annsrc")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
        srcDir.resolve("embeddings.parquet"))
      val outDir = scratchDir("graft-annout").toString
      val ck = scratchDir("graft-annck").toString
      val q = Similarity.ivfPqEncode(
          s.readStream.schema(EmbeddingsStreamSchema).parquet(srcDir.toString)
            .filter(col("embedding").isNotNull),
          "vec_id", "embedding", art.scale, art.coarse, art.cbs)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ck)
        .partitionBy("cell")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Similarity.ivfPqTopKFromCodes(s.read.parquet(outDir), "vec_id",
          annQueryVec(s, dir), kTop = 10, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // BULK retrieval + exact re-rank — the full production recipe in
    // one call: per-query ADC top-10 from the stored codes, raw
    // vectors fetched once for the candidates, exact integer L2
    // against each query's OWN vector, per-query top-5. Both
    // distance stages and the final ranks oracle-pinned.
    "q_ann_ivfpq_knn_refined" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqKnnJoinRefined(queries, "query_id", "embedding",
          s.read.parquet(art.codesPath), emb, "vec_id", "embedding",
          k = 5, rerank = 10, scale = art.scale, coarse = art.coarse,
          codebooks = art.cbs, nProbe = 2)
        .orderBy("query_id", "rk")
    }),

    // BULK ANN retrieval: a 5-query table joined against the stored
    // cell-partitioned codes — per-query probe cells computed
    // scan-side, ONE equi-join on the cell id, residual ADC from the
    // codebook literal, per-query top-5 via the buffer-capped
    // bottom-k aggregate. The "neighbors for a million prompts"
    // shape; distances AND ranks exact-integer, oracle-pinned.
    "q_ann_ivfpq_knn" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqKnnJoin(queries, "query_id", "embedding",
          s.read.parquet(art.codesPath), "vec_id", k = 5, scale = art.scale,
          coarse = art.coarse, codebooks = art.cbs, nProbe = 2)
        .orderBy("query_id", "rk")
    }),

    // IVF-PQ + EXACT RE-RANK (the FAISS refine step): ADC top-50
    // candidates from the stored cell-partitioned codes, then the
    // exact integer quantized L2 re-ranks the final top-10 — the
    // serving recipe that makes PQ's lossy distances safe. Both
    // distance stages are exact integers; the oracle replays both.
    "q_ann_ivfpq_refined" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      Similarity.ivfPqTopKRefined(s.read.parquet(art.codesPath), emb,
          "vec_id", "embedding", annQueryVec(s, dir), kTop = 10,
          rerank = 50, scale = art.scale, coarse = art.coarse,
          codebooks = art.cbs, nProbe = 2)
        .orderBy("exact_dist", "vec_id")
    }),

    // RE-FIT migration: start from a copy of the served layout, then
    // refitIvfPqLayout re-fits on the current corpus with the
    // standard params and re-encodes through the crash-safe swap.
    // The fit is deterministic (id-ordered init), so the returned
    // params equal the memoized fit and serving over the refitted
    // layout is bit-equal to the shared IVF-PQ oracle, which replays
    // fit+encode+probe end to end. (The DRIFT scenario — stale params
    // over new data — is spec'd; a gate needs the deterministic
    // twin.)
    "q_ann_ivfpq_refit" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      // file-copy of the served layout (the refit swaps it in place)
      val lay = artifactLayoutCopy(s, dir)
      val (sc2, coarse2, cbs2) = Similarity.refitIvfPqLayout(s, lay, emb,
        "vec_id", "embedding", coarseK = 4, m = 4, k = 4, iters = 2)
      Similarity.ivfPqTopKFromCodes(s.read.parquet(lay), "vec_id",
          annQueryVec(s, dir), kTop = 10, scale = sc2, coarse = coarse2,
          codebooks = cbs2, nProbe = 2)
        .orderBy("adc_dist", "vec_id")
    }),

    // EXACT kNN ground truth: brute-force integer-L2 kNN join — a
    // query SAMPLE broadcast along ONE corpus scan (O(Q·N) by design,
    // zero shuffle beyond the bounded bottom-k). The baseline the
    // recall report grades the ANN serving path against.
    "q_ann_exact_knn" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.exactQuantizedKnnJoin(queries, "query_id", "embedding",
          emb, "vec_id", "embedding", k = 5, scale = art.scale)
        .orderBy("query_id", "rk")
    }),

    // ANN RECALL report: per-query recall@5 of the stored-code
    // serving path vs the exact ground truth — the RE-FIT signal that
    // closes the living-index maintenance loop (layout stats = when
    // to compact; this = when to re-fit). All integers; the oracle
    // replays BOTH retrieval chains and the intersection counts.
    "q_ann_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val art = ivfPqArtifacts(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfPqRecallReport(s.read.parquet(art.codesPath), emb,
          queries, "query_id", "embedding", "vec_id", "embedding",
          k = 5, scale = art.scale, coarse = art.coarse,
          codebooks = art.cbs, nProbe = 2)
        .orderBy("query_id")
    }),

    // COSINE serving recipe: L2-normalize at ingest, then L2 top-k IS
    // cosine top-k (unit vectors: ||a−b||² = 2 − 2·cos). The gate
    // proves the identity through the EXACT-INTEGER kernel the refine
    // family serves with: the L2 arm quantizes the l2Normalize'd
    // vectors into the standard int8 domain (kmeansQuantize — the
    // same projection ivfPqTopKRefined's exact stage re-ranks in) and
    // takes the integer-L2 top-10; it must agree with brute-force
    // float cosine on ≥ 8 of 10 ids per query (the only loss is int8
    // quantization of the unit vectors — recall band, the q_ann_ivf
    // pattern; the oracle pins the booleans TRUE; CosProbe measured
    // 9-10/10 at sf0.001 and sf0.01). At scale the same recipe rides
    // the stored-code serving paths: normalize → fit → saveIvfPqEncoded
    // → ivfPqTopKFromCodes/ivfPqKnnJoin (+refine) serve cosine.
    "q_ann_cosine" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings").filter(col("embedding").isNotNull)
      // drop zero vectors too: l2Normalize yields null for them (no
      // direction) and a null distance would sort FIRST into every
      // top-10 under Spark's ascending NULLS FIRST default — the same
      // null-exclusion the encode/fit entry points apply
      val unit = emb.select(col("vec_id"),
        Similarity.l2Normalize(col("embedding")).as("uvec"))
        .filter(col("uvec").isNotNull)
      val qdf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        .toDF("query_id", "qvec")
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))
      val brute = emb
        .crossJoin(broadcast(qdf))
        .select(col("query_id"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qvec")), 6).as("score"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      val uscale = Similarity.kmeansGlobalScale(unit, "uvec")
      val uq = unit.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          Similarity.kmeansQuantize(col("uvec"), uscale).as("_qq"))
      val wL2 = Window.partitionBy("query_id").orderBy(col("d"), col("vec_id"))
      val l2 = unit
        .select(col("vec_id"),
          Similarity.kmeansQuantize(col("uvec"), uscale).as("_u"))
        .crossJoin(broadcast(uq))
        .select(col("query_id"), col("vec_id"),
          graft.functions.DedupExpressions.intL2(
            col("_u"), col("_qq"), "cosine gate").as("d"))
        .withColumn("rk", row_number().over(wL2)).filter(col("rk") <= 10)
      brute.select("query_id", "vec_id")
        .join(l2.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), (col("n_hits") >= 8).as("recall_ok"))
        .orderBy("query_id")
    }),

    // Semantic-balance composition: k-means cells capped at a common
    // budget by the md5 bottom-k sampler — the "no cluster dominates
    // the mixture" step of a curation recipe, all existing operators.
    "q_cluster_balance" -> ((s, dir) => {
      graft.functions.Curation.bottomKSample(
          kmeansCells(s, dir), col("vec_id"), k = 30, strata = Seq("cell"))
        .select(col("vec_id"), col("cell"))
        .orderBy("cell", "vec_id")
    }),

    // Okapi BM25 retrieval over the corpus: the lexical scorer for
    // pulling topic-relevant slices during curation. Per-term scores
    // snap to nano-units pre-sum; oracle replays the exact float
    // expression (constants written as the same unfoldable sums).
    "q_bm25" -> ((s, dir) => {
      TextFunctions.bm25TopDocs(tbl(s, dir, "documents"), "doc_id", "text",
        query = Seq("join", "window", "stream"), k = 25)
    }),

    // Hybrid lexical+semantic retrieval: reciprocal-rank fusion of
    // the BM25 top-100 and cosine top-100 arms (query vector = row 0's
    // embedding). Rank fusion keeps the oracle exact where raw-score
    // fusion could not be calibrated.
    "q_hybrid_search" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      TextFunctions.hybridTopDocs(
        docs, "doc_id", "text", emb, "vec_id", "embedding",
        query = Seq("join", "window", "stream"), queryVec = qv, k = 20)
    }),

    // Hybrid retrieval with the PRODUCTION vec arm: the semantic side
    // runs over a pre-fit IVF (nearest-cell assignment + nProbe-cell
    // scan — the partition-pruned shape that survives 100 TB of
    // vectors) instead of the exact full-corpus scan. A QUALITY gate
    // like q_ann_ivf, with TWO measured floors (data-driven at all
    // three SFs, nProbe=5/10 cells): (a) the IVF arm's own recall@20
    // vs brute force >= 14 (measured 18-19; a degenerate probe scores
    // 0 — the sharp signal), and (b) the fused top-20 overlap between
    // the IVF-armed and brute-armed runs >= 12 (measured 13-20; an
    // empty/broken vec arm leaves only the lex-led docs and scores
    // 5-9 — RRF amplifies deep-pool rank shifts, so this floor alone
    // would be noisy, hence (a)). Oracle pins recall_ok=true.
    "q_hybrid_ann" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val cents = ivfCentroids(s, dir)
      val ivfArm: (DataFrame, String, String, Seq[Float], Int) => DataFrame =
        (e, i, v, q, n) => Similarity.annTopKIvf(e, i, v, q, n, cents, nProbe = 5)
      def hyb(arm: (DataFrame, String, String, Seq[Float], Int) => DataFrame) =
        TextFunctions.hybridTopDocs(
          docs, "doc_id", "text", emb, "vec_id", "embedding",
          query = Seq("join", "window", "stream"), queryVec = qv, k = 20,
          vecArm = arm)
      val fused = hyb(ivfArm).select("doc_id")
        .join(hyb(Similarity.bruteForceTopK).select("doc_id"), "doc_id")
        .agg(count(lit(1)).as("n_fused"))
      val vec = Similarity.annTopKIvf(
          emb, "vec_id", "embedding", qv, 20, cents, nProbe = 5)
        .select("vec_id")
        .join(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 20)
          .select("vec_id"), "vec_id")
        .agg(count(lit(1)).as("n_vec"))
      fused.crossJoin(vec)
        .select(lit(20L).as("k"),
          (col("n_fused") >= 12 && col("n_vec") >= 14).as("recall_ok"))
    }),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // LMs over a target domain sample vs the raw corpus, add-1
    // smoothed, log-ratio in integer nano-nats (the q_surprisal
    // determinism recipe). Target = the three "curated" sources.
    "q_dsir_weights" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val target = docs.filter(col("lang") === "en" &&
        col("source").isin("src1", "src2", "src3"))
      graft.functions.Curation.dsirWeights(docs, "doc_id", "text", target, "text")
        .orderBy("doc_id")
    }),

    // DSIR resampling step: deterministic Gumbel-max top-k — an exact
    // softmax(logw) sample without replacement, with the Gumbel noise
    // derived from md5(id) so both engines draw identical "randomness".
    "q_dsir_select" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val target = docs.filter(col("lang") === "en" &&
        col("source").isin("src1", "src2", "src3"))
      graft.functions.Curation.dsirResample(
        docs, "doc_id", "text", target, "text", k = 50)
    }),

    // FastText-style hashed quality classifier: closed-form log-odds
    // weights trained on labeled slices (en=pos, zh=neg), every doc
    // scored and the keep DECISION verified — weights, logits, and
    // threshold all integer-exact across engines.
    "q_classifier_score" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val w = graft.functions.Curation.trainTokenClassifier(
        docs.filter(col("lang") === "en"), "text",
        docs.filter(col("lang") === "zh"), "text")
      graft.functions.Curation.classifierScore(docs, "doc_id", "text", w)
        .orderBy("doc_id")
    }),

    // Cluster-proportional downsampling (keep 1+floor(log2(size)) per
    // group, md5-ranked): quota via length(bin(n)) — integer-exact on
    // both engines, no float log2.
    "q_downsample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .withColumn("grp", concat_ws(":", col("lang"), col("source")))
      graft.functions.Curation.downsampleGroups(docs, "doc_id", "grp")
        .select(col("doc_id"), col("grp"), col("group_size"), col("rk").cast("long").as("rk"))
        .orderBy("doc_id")
    }),

    // End-to-end curation recipe COMPOSED from the gated stages:
    // rule-based quality filter (one-pass QualityStatsExpr, the same
    // Gopher-style rules q_quality_filter gates, text riding along as
    // a keepCol) → exact dedup on text (keep smallest id) →
    // deterministic md5 train/val/test split. One gate proving the
    // stages compose without re-reading the corpus between them — the
    // "switch your pipeline to this library" query.
    "q_curation_pipeline" -> ((s, dir) => {
      val kept = TextFunctions.qualityFilter(
          tbl(s, dir, "documents"), "doc_id", "text",
          minTokens = 20, maxTokens = 90, minStopRatio = 0.03,
          minMeanWordLen = 3.0, maxMeanWordLen = 5.0, maxTopTokenFrac = 0.2,
          keepCols = Seq("text"))
        .filter(col("keep"))
        .select("doc_id", "text", "n_tokens")
      val deduped = Dedup.exact(kept, "doc_id", Seq("text"))
      graft.functions.Curation.hashSplit(
          deduped, col("doc_id"), Seq(0.9, 0.05, 0.05), basis = "md5")
        .select(col("doc_id"), col("n_tokens"), col("split"))
        .orderBy("doc_id")
    }),

    // URL canonicalization: the corpus has no URL column, so both
    // engines derive the same messy URL per doc (mixed case, :443,
    // tracking params, fragment, sometimes a trailing slash) and the
    // gate verifies the canonical form byte-for-byte.
    "q_url_normalize" -> ((s, dir) => {
      val raw = concat(
        lit("HTTPS://WWW."), col("source"), lit(".Example.com:443/Docs/"),
        col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&id="), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, lit("&gclid=abc")).otherwise(lit("")),
        lit("#frag"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.normalizeUrl(raw).as("canonical"))
        .orderBy("doc_id")
    }),

    // Host + registrable-domain extraction from messy URLs (userinfo,
    // ports, mixed case, multi-label public suffixes) — the grouping
    // key every per-site curation step hangs off.
    "q_host_extract" -> ((s, dir) => {
      val raw = when(col("doc_id") % 2 === 0,
          concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM/p/"),
            col("doc_id").cast("string"), lit("#f")))
        .otherwise(concat(lit("http://user:pa@"), col("source"),
          lit(".Example.CO.UK:8080/p?x=1")))
      val host = TextFunctions.hostOf(raw)
      tbl(s, dir, "documents").select(
          col("doc_id"), host.as("host"),
          TextFunctions.registeredDomain(host).as("reg_domain"))
        .orderBy("doc_id")
    }),

    // Common-Crawl-style per-domain cap: every kept row verified (the
    // bounded bottom-k aggregate against the oracle's row_number over
    // the identical two-lane md5 sort key). cap=10 binds on all 20
    // domains (25 docs each), so the keep set is a real cut, not a
    // pass-through.
    "q_domain_cap" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("domain", col("source"))
      graft.functions.Curation.capPerDomain(docs, "doc_id", "domain", cap = 10)
        .select(col("domain"), col("doc_id"))
        .orderBy("domain", "doc_id")
    }),

    // UT1-style domain blocklist with public-suffix semantics: a
    // listed domain blocks itself and every subdomain; string-suffix
    // lookalikes survive.
    "q_domain_filter" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").withColumn("host",
        concat(when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
          col("source"),
          when(col("doc_id") % 3 === 0, lit(".example.org"))
            .otherwise(lit(".example.com"))))
      graft.functions.Curation.filterByDomains(
          docs, "host", Seq("src1.example.com", "example.org"))
        .select(col("doc_id"), col("host"))
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization: both engines append the same
    // decomposed suffix (combining acute U+0301; the Angstrom-sign
    // singleton U+212B) to every doc, normalize, and hash — proving
    // the kernel against DuckDB's nfc_normalize end-to-end. Lengths
    // are codepoint counts in both engines, so the composed form is
    // visibly shorter.
    "q_unicode_nfc" -> ((s, dir) => {
      val raw = concat(col("text"), lit(" cafe\u0301 \u212B"))
      tbl(s, dir, "documents").select(
          col("doc_id"),
          length(raw).cast("long").as("raw_chars"),
          length(TextFunctions.normalizeUnicode(raw)).cast("long").as("nfc_chars"),
          md5(TextFunctions.normalizeUnicode(raw)).as("nfc_md5"))
        .orderBy("doc_id")
    }),

    // HTML → text: same synthetic page wrapper on both engines
    // (script/style blocks, tags, entities); the gate checks the
    // stripped text's md5 and token count.
    "q_strip_html" -> ((s, dir) => {
      val html = concat(
        lit("<html><body class=\"x\"><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><script>var a = 1 &amp;&amp; 2;</script><p>"),
        substring(col("text"), 1, 40),
        lit(" &amp; more &lt;stuff&gt;</p><style>p{color:red}</style></body></html>"))
      val clean = TextFunctions.stripHtml(html)
      tbl(s, dir, "documents")
        .select(col("doc_id"), md5(clean).as("clean_md5"),
          TextFunctions.tokenCount(clean).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // C4-style boilerplate line removal. The synthetic docs are
    // single-line, so both engines first re-chunk them into aligned
    // 8-token lines (deterministic, same slice algebra) — at sf0.01
    // that yields 153 cross-doc repeated lines over 93 docs, a
    // non-trivial removal set. Gate verifies per-doc line counts,
    // removed counts, and the md5 of the reassembled clean text.
    "q_boilerplate" -> ((s, dir) => {
      graft.functions.Curation.removeBoilerplateLines(
          linedDocuments(s, dir), "doc_id", "line_text", minDocs = 2)
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // RefinedWeb-style global line dedup over the same 8-word-chunk
    // lining as q_boilerplate: every repeated line keeps exactly its
    // first (doc_id, pos) occurrence corpus-wide — including
    // intra-document repeats, which the >=minDocs boilerplate rule
    // never touches.
    "q_line_dedup" -> ((s, dir) => {
      graft.functions.Curation.dedupLines(
          linedDocuments(s, dir), "doc_id", "line_text")
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Gopher-style rule filter with reject reasons; thresholds sit
    // inside this corpus's distributions so every rule fires on some
    // docs (345/500 kept at sf0.01). All metrics are integer sums +
    // one IEEE division — bit-replicated by the oracle. The reasons
    // list is scalarized at the gate boundary (array_join, like
    // q_boilerplate's md5) because the driver comparator cannot hash
    // raw array columns; both engines keep the list form internally.
    "q_quality_filter" -> ((s, dir) => {
      TextFunctions.qualityFilter(tbl(s, dir, "documents"), "doc_id", "text",
          minTokens = 20, maxTokens = 90, minStopRatio = 0.03,
          minMeanWordLen = 3.0, maxMeanWordLen = 5.0, maxTopTokenFrac = 0.2)
        .withColumn("reasons", array_join(col("reasons"), "|"))
        .orderBy("doc_id")
    }),

    // Rejection-funnel audit over the same rule filter: one row of
    // per-rule failure counts — the "why did my corpus shrink" report
    // a curation run reads before tuning thresholds. Counts only, so
    // at 100 TB it is one map-side-combined aggregation.
    "q_quality_funnel" -> ((s, dir) => {
      def hits(r: String) =
        sum(when(array_contains(col("reasons"), r), 1L).otherwise(0L))
      TextFunctions.qualityFilter(tbl(s, dir, "documents"), "doc_id", "text",
          minTokens = 20, maxTokens = 90, minStopRatio = 0.03,
          minMeanWordLen = 3.0, maxMeanWordLen = 5.0, maxTopTokenFrac = 0.2)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          hits("low_stopword").as("n_low_stopword"),
          hits("repetitive").as("n_repetitive"),
          hits("too_long").as("n_too_long"),
          hits("too_short").as("n_too_short"),
          hits("word_length").as("n_word_length"))
    }),

    // Vocabulary induction: top-40 tokens by corpus occurrence count,
    // hash tie-break, term text from the min-term dictionary.
    "q_vocab" -> ((s, dir) => {
      TextFunctions.buildVocab(tbl(s, dir, "documents"), "text", size = 40)
        .orderBy("rank")
    }),

    // BPE tokenizer training (Sennrich word-count formulation): ONE
    // distributed word-count scan, driver merge loop over the bounded
    // vocab. Oracle = 16 chained (non-recursive) CTE stages whose
    // merge application is a plain string replace over two-separator
    // symbol strings — exactly the greedy scan (see Bpe scaladoc).
    "q_bpe_train" -> ((s, dir) => {
      TextFunctions.bpeTrain(tbl(s, dir, "documents"), "text", numMerges = 16)
        .orderBy("rank")
    }),

    // The distributed trainer (no driver vocab cap — word table stays
    // a DataFrame, one pair-count aggregation per merge round) must
    // learn the IDENTICAL merge table: same chained-CTE oracle as
    // q_bpe_train.
    "q_bpe_train_dist" -> ((s, dir) => {
      TextFunctions.bpeTrainDistributed(
          tbl(s, dir, "documents"), "text", numMerges = 16)
        .orderBy("rank")
    }),

    // The APPROXIMATE batch mode (exactBatch = false — the opt-in a
    // 30k-merge production vocabulary actually runs): skip-disjoint
    // greedy selection over the top maxBatch candidates per round,
    // up to maxBatch merges applied per job sequence. Previously
    // spec-covered only; this oracle replays the per-round candidate
    // order, the greedy accept/skip walk, AND the batched merge
    // application end to end (see bpeApproxCtes).
    "q_bpe_train_approx" -> ((s, dir) => {
      TextFunctions.bpeTrainDistributed(
          tbl(s, dir, "documents"), "text", numMerges = 12,
          maxBatch = 3, exactBatch = false)
        .orderBy("rank")
    }),

    // Byte-level (GPT-2-shape) training: symbols are UTF-8 bytes as
    // hex pairs; the oracle reuses the SAME chained-replace stages
    // over lower(hex(encode(word))) chunked in twos.
    "q_bpe_bytes" -> ((s, dir) => {
      TextFunctions.bpeTrainBytes(tbl(s, dir, "documents"), "text", numMerges = 16)
        .orderBy("rank")
    }),

    // Byte-level encode: one codegen'd kernel pass in byteLevel mode
    // (word -> hex -> chunk-2 symbols -> in-order merges), count-only.
    "q_bpe_bytes_encode" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val merges = TextFunctions.collectMerges(
        TextFunctions.bpeTrainBytes(docs, "text", numMerges = 16))
      TextFunctions.bpeTokenCountsBytes(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Tokenizer vocabulary export: base code-point tokens in
    // code-point order, then surviving merged tokens (first formation
    // wins) densely id'd in rank order.
    "q_bpe_vocab" -> ((s, dir) => {
      TextFunctions.bpeVocab(tbl(s, dir, "documents"), "text", numMerges = 16)
        .orderBy("token_id")
    }),

    // Token-ID encoding: the tokens kernel output joined to the
    // bpeVocab id table (a broadcast — the vocab is driver-bounded by
    // construction); ONE bpeTrainWithVocab call feeds both the merge
    // list and the id table (train once, not twice). Scalarized per
    // doc because the driver comparator cannot hash raw array columns:
    // count + id sum + a POSITION-WEIGHTED checksum
    // (sum(token_id * (pos+1)) mod 1e9+7) so a token transposition
    // within a doc cannot pass — posexplode's pos is the global
    // in-doc token position and the oracle reconstructs the same
    // ordinal via row_number over (word position, intra-word position).
    // Every token an encode emits is in the vocab by string identity
    // (multi-char symbols ARE merged-token strings, base chars come
    // from the same floored vocab), so the left join only goes null
    // for empty docs.
    "q_bpe_ids" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val (mergesDf, vocab) =
        TextFunctions.bpeTrainWithVocab(docs, "text", numMerges = 16)
      val merges = TextFunctions.collectMerges(mergesDf)
      val toks = docs.select(col("doc_id"),
        posexplode_outer(graft.functions.BpeEncodeExpr.tokens(
          lower(coalesce(col("text"), lit(""))), merges, "[a-z]+"))
          .as(Seq("pos", "token")))
      toks.join(broadcast(vocab.select(col("token"), col("token_id"))), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(col("token_id")).as("n_tokens"),
          coalesce(sum(col("token_id")), lit(0L)).as("sum_token_id"),
          coalesce(sum(col("token_id") * (col("pos") + lit(1L))), lit(0L))
            .mod(lit(1000000007L)).as("pos_checksum"))
        .orderBy("doc_id")
    }),

    // Encode under the trained merges: one codegen'd BpeEncodeExpr
    // count-only scan pass (token strings never materialize).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val merges = TextFunctions.collectMerges(
        TextFunctions.bpeTrain(docs, "text", numMerges = 16))
      TextFunctions.bpeTokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Tokenizer-coverage report: per-doc OOV rate against the induced
    // top-40 vocab — buildVocab composed end-to-end.
    "q_oov" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val vocab = TextFunctions.buildVocab(docs, "text", size = 40)
      TextFunctions.oovRate(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),

    // Top-3 TF-IDF terms per doc; idf snapped to integer nano-nats
    // before the tf multiply so rank and score are integer-exact
    // across engines.
    "q_tfidf_terms" -> ((s, dir) => {
      TextFunctions.tfidfTopTerms(tbl(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("doc_id", "rk")
    }),

    // Asymmetric containment pairs (quote/excerpt detection):
    // |A∩B| / min(|A|,|B|) over distinct 3-gram shingles.
    "q_containment" -> ((s, dir) => {
      Dedup.containmentPairs(tbl(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")
    }),

    // ------------------------------------------------------- multimodal
    "q_multimodal_features" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(s, 120)
      Multimodal.extractFeatures(assets, dim = 8)
        .select(
          col("asset_id"), col("modality"),
          round(element_at(col("features"), 1).cast("double"), 5).as("f0"),
          size(col("features")).cast("long").as("dim"))
        .orderBy("asset_id")
    }),

    "q_frame_plan" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(s, 120)
      Multimodal.planFrameSamples(assets, everyMs = 500L, maxFrames = 8)
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("ts_ms"))
        .orderBy("asset_id", "frame_idx")
    }),

    // REAL header-metadata parsing (no codec): PNG IHDR / GIF logical
    // screen / JPEG SOF marker scan / canonical WAV fmt chunk, over a
    // fixture whose headers are REAL bytes with dims and audio format
    // derived from asset_id arithmetic — the oracle knows only the
    // arithmetic, so agreement proves the engine actually parsed the
    // byte layouts (offsets, endianness, marker chain).
    "q_media_meta" -> ((s, dir) => {
      val assets = Multimodal.syntheticMediaAssets(s, 200)
      Multimodal.mediaMeta(assets, "asset_id", "content")
        .select(col("asset_id"), col("mime_sniffed"),
          coalesce(col("width"), lit(-1)).as("width"),
          coalesce(col("height"), lit(-1)).as("height"),
          coalesce(col("channels"), lit(-1)).as("channels"),
          coalesce(col("sample_rate_hz"), lit(-1)).as("sample_rate_hz"),
          coalesce(col("bits"), lit(-1)).as("bits"),
          coalesce(col("duration_ms"), lit(-1L)).as("duration_ms"))
        .orderBy("asset_id")
    }),

    // REAL multimodal kernels in the gate: sha256 exact binary dedup +
    // magic-byte mime sniffing over the payload column (no codec
    // needed) — the oracle reconstructs the payloads and re-derives
    // both, so every digest, group size, and sniffed mime is verified
    "q_binary_dedup" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(s, 120)
      Multimodal.binaryDedupGroups(assets, "asset_id", "content")
        .orderBy("keep_id")
    })
  )

  // ----------------------------------------------------------- oracles

  /** Shared DuckDB CTE chain computing the quality score (kept
    * identical to TextStatsExpr's formula); ends with `q(doc_id,
    * quality)`. Reused by q_quality_score and q_keep_best.
    */
  private val QualityCtes: String =
    """t AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(norm, ' '), x -> len(x) > 0) AS ntoks
      |  FROM t),
      |r AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |      ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
      |    CASE WHEN len(ntoks) = 0 THEN 0.0
      |      ELSE CAST(len(list_filter(ntoks, x -> list_contains(['the','a','an','and','or','not','of','to','in','on','for','with','is','are','was','were','be','it','this','that','as','at','by','from'], x))) AS DOUBLE) / len(ntoks) END AS stop_ratio,
      |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score
      |  FROM n),
      |q AS (
      |  SELECT doc_id,
      |    round(len_score * 0.4 + least(stop_ratio * 4.0, 1.0) * 0.3
      |          + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.3, 6) AS quality
      |  FROM r)""".stripMargin

  /** Exact-order cosine in DuckDB SQL: three left-fold `list_reduce`
    * accumulations in ascending index order over double lists — the
    * same IEEE op sequence as [[graft.functions.CosineSimExpr]], so
    * `round(…, 6)` values are bit-identical.
    */
  private def sqlCos(a: String, b: String): String =
    s"""(list_reduce(list_transform(range(1,65), j -> $a[j]*$b[j]), (x,y) -> x+y)
       | / (sqrt(list_reduce(list_transform(range(1,65), j -> $a[j]*$a[j]), (x,y) -> x+y))
       |    * sqrt(list_reduce(list_transform(range(1,65), j -> $b[j]*$b[j]), (x,y) -> x+y))))"""
      .stripMargin.replace("\n", " ")

  /** embeddings as (vec_id BIGINT, v DOUBLE[]) — shared CTE. */
  private val EmbCte: String =
    """d AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)""".stripMargin

  /** The ±1 plane sign for plane index expression `p` and dimension
    * `j` (0-based) — bit (j%64) of md5_lower64("lshplane_<p>_<j/64>"),
    * the formula [[graft.functions.LshBandExpr]] hashes with.
    */
  private def sqlPlaneSign(p: String, j: String): String =
    s"""(CASE WHEN (md5_number_lower('lshplane_' || CAST($p AS VARCHAR) || '_' ||
       | CAST($j // 64 AS VARCHAR)) >> ($j % 64)) & 1 = 1 THEN 1.0 ELSE -1.0 END)"""
      .stripMargin.replace("\n", " ")

  /** LSH band value over `bits` planes starting at plane-index
    * expression `off`, for a double-list column `v` (ascending-j fold
    * matching LshBandExpr). `bits` is a SQL expression — a literal for
    * the pinned-width gates, a count(*)-derived column for
    * q_knn_join_auto (DuckDB's scalar `range` takes expressions).
    */
  private def sqlLshBand(v: String, off: String, bits: String): String =
    s"""CAST(list_sum(list_transform(range(0, $bits), p ->
       | CASE WHEN list_reduce(list_transform(range(0, 64), j ->
       |   $v[j+1] * ${sqlPlaneSign(s"($off + p)", "j")}), (x,y) -> x+y) >= 0
       | THEN 1 << p ELSE 0 END)) AS BIGINT)""".stripMargin.replace("\n", " ")

  /** Full rule-filter oracle — shared verbatim by q_quality_filter and
    * q_stream_quality (the filter is a stateless projection, so the
    * streamed result over the same rows IS the batch result).
    */
  /** Shared `WITH ... r(doc_id, n, sr, mwl, tf, reasons)` prefix of the
    * rule-filter oracles — q_quality_filter / q_stream_quality project
    * per-doc rows from it, q_quality_funnel aggregates it.
    */
  private lazy val QualityFilterReasonCtes: String =
    s"""WITH ${tokCte()},
       |$QualityFilterMetricCtes,
       |r AS (SELECT doc_id, n, sr, mwl, tf,
       |  (CASE WHEN sr < 0.03 THEN ['low_stopword'] ELSE [] END
       |   || CASE WHEN tf > 0.2 THEN ['repetitive'] ELSE [] END
       |   || CASE WHEN n > 90 THEN ['too_long'] ELSE [] END
       |   || CASE WHEN n < 20 THEN ['too_short'] ELSE [] END
       |   || CASE WHEN mwl < 3.0 OR mwl > 5.0 THEN ['word_length'] ELSE [] END) AS reasons
       |  FROM m)""".stripMargin

  // NB: composed by CONCAT, not an outer interpolated stripMargin —
  // the CTE text contains `|| CASE` lines that an outer stripMargin
  // would eat a pipe from (NOTES round-3 gotcha)
  private lazy val OovOracleSql: String =
    s"""WITH ${tokCte()},
           |ex AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
           |tc AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
           |ag AS (SELECT tok, sum(c) AS n_occurrences,
           |  CAST(CASE WHEN md5_number_lower(tok) >= 9223372036854775808
           |    THEN CAST(md5_number_lower(tok) AS HUGEINT) - 18446744073709551616
           |    ELSE CAST(md5_number_lower(tok) AS HUGEINT) END AS BIGINT) AS h
           |  FROM tc GROUP BY tok),
           |v AS (SELECT tok FROM ag ORDER BY n_occurrences DESC, h ASC LIMIT 40),
           |cnt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |  CAST(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov
           |  FROM tc LEFT JOIN v ON tc.tok = v.tok GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
           |  coalesce(n_oov, 0) AS n_oov,
           |  CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
           |       ELSE round(CAST(n_oov AS DOUBLE) / n_tokens, 6) END AS oov_ratio
           |FROM documents d LEFT JOIN cnt USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin

  private lazy val QualityFilterOracleSql: String =
    QualityFilterReasonCtes + "\n" +
      """SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  round(sr, 6) AS stop_ratio, round(mwl, 6) AS mean_word_len,
        |  round(tf, 6) AS top_token_frac,
        |  len(reasons) = 0 AS keep,
        |  coalesce(array_to_string(reasons, '|'), '') AS reasons
        |FROM r ORDER BY doc_id""".stripMargin

  /** Rule-filter metric CTEs (assumes `toks` from [[tokCte]] is in
    * scope): yields `m(doc_id, n, sr, mwl, tf)` — one row per document
    * including zero-token docs (metrics 0). Shared by q_quality_filter
    * and q_curation_pipeline so the pipeline's keep-set is definitionally
    * the filter gate's keep-set.
    */
  private val QualityFilterMetricCtes: String =
    """ex AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
      |tc AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
      |st AS (SELECT doc_id, sum(c) AS n, max(c) AS top,
      |  sum(CASE WHEN list_contains(['the','a','an','and','or','not','of','to','in','on','for','with','is','are','was','were','be','it','this','that','as','at','by','from'], tok) THEN c ELSE 0 END) AS stop,
      |  sum(len(tok)*c) AS chars FROM tc GROUP BY doc_id),
      |j AS (SELECT d.doc_id, coalesce(st.n, 0) AS n, st.top, st.stop, st.chars
      |      FROM documents d LEFT JOIN st USING (doc_id)),
      |m AS (SELECT doc_id, n,
      |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(stop AS DOUBLE)/n END AS sr,
      |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(chars AS DOUBLE)/n END AS mwl,
      |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(top AS DOUBLE)/n END AS tf FROM j)""".stripMargin

  /** Normalized word tokens per document (matches
    * TextFunctions.normalizeText / HashUtil.tokens).
    */
  private def tokCte(where: String = ""): String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')),
       |    ' '), x -> len(x) > 0) AS ws
       |  FROM documents $where)""".stripMargin

  /** BPE training as `k` chained (NON-recursive) CTE stages over the
    * word-count vocabulary. Each stage: adjacent-pair counts → argmax
    * (count desc, pair asc — DuckDB's binary collation = the
    * code-point order `Bpe.cpCompare` uses) → merge application as ONE
    * plain `replace` over symbol strings where every symbol is wrapped
    * in two distinct separators `chr(2)…chr(31)`. Two separators, not
    * one: a single trailing separator lets `ab·b·` suffix-match inside
    * `[cab, b]` and merge a symbol SUFFIX; the leading separator
    * anchors matches at symbol boundaries, and adjacent matches then
    * share no characters, so left-to-right non-overlapping `replace`
    * IS the greedy merge scan (`a a a → (aa) a`). Separator safety is
    * by construction: symbols only ever contain `[a-z]`.
    * All stages MATERIALIZED — without it DuckDB inlines each stage
    * into its 2-3 consumers and the 16-deep chain blows up
    * exponentially (measured: unbounded vs 0.2 s).
    */
  private def bpeCtes(k: Int, bytes: Boolean = false): String = {
    val s1 = "chr(2)"
    val s2 = "chr(31)"
    // byte-level stage 0: UTF-8 bytes as lowercase hex pairs (DuckDB
    // encode() -> BLOB, hex() -> uppercase), wrapped per TWO chars —
    // same separator algebra, symbols stay [0-9a-f]+
    val sym0 =
      if (bytes) s"regexp_replace(lower(hex(encode(word))), '(..)', $s1 || '\\1' || $s2, 'g')"
      else s"regexp_replace(word, '(.)', $s1 || '\\1' || $s2, 'g')"
    val sb = new StringBuilder
    sb.append(
      s"""bpe_words0 AS MATERIALIZED (
         |  SELECT word, $sym0 AS sym, cnt FROM (
         |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
         |    ) GROUP BY 1
         |  )
         |)""".stripMargin)
    (0 until k).foreach { i =>
      sb.append(",\n").append(
        s"""bpe_best$i AS MATERIALIZED (
           |  SELECT a, b, $s1 || a || $s2 || $s1 || b || $s2 AS pat, $s1 || a || b || $s2 AS rep FROM (
           |    SELECT p[1] AS a, p[2] AS b, sum(cnt) AS c FROM (
           |      SELECT unnest(list_zip(list_slice(syms, 1, length(syms)-1), list_slice(syms, 2, length(syms)))) AS p, cnt FROM (
           |        SELECT list_slice(string_split(replace(sym, $s1, ''), $s2), 1,
           |                          length(sym) - length(replace(sym, $s2, ''))) AS syms, cnt FROM bpe_words$i
           |      ) WHERE length(syms) >= 2
           |    ) GROUP BY 1, 2
           |  ) ORDER BY c DESC, a ASC, b ASC LIMIT 1
           |),
           |bpe_words${i + 1} AS MATERIALIZED (
           |  SELECT word, CASE WHEN pat IS NULL THEN sym ELSE replace(sym, pat, rep) END AS sym, cnt
           |  FROM bpe_words$i LEFT JOIN bpe_best$i ON TRUE
           |)""".stripMargin)
    }
    sb.toString
  }

  /** WordPiece-training replay: [[bpeCtes]]' chained-stage structure
    * with (a) BERT symbolization — first char plain, later chars
    * `##`-prefixed — and (b) the LIKELIHOOD arg-max: best pair
    * maximizes `c / (ca·cb)` (symbol counts under the current
    * segmentation), decided EXACTLY by a HUGEINT cross-multiplied
    * anti-join (`c₂·ca₁·cb₁ > c₁·ca₂·cb₂` beats — no division, no
    * float anywhere near the decision), ties by binary-collation
    * `(a, b)` — the identical total order the engine's BigInt
    * comparator uses. Merged token strips the right side's `##`.
    */
  private def wordpieceCtes(k: Int): String = {
    val s1 = "chr(2)"
    val s2 = "chr(31)"
    val sym0 =
      s"$s1 || substr(word, 1, 1) || $s2 || " +
        s"regexp_replace(substr(word, 2), '(.)', $s1 || '##\\1' || $s2, 'g')"
    val sb = new StringBuilder
    sb.append(
      s"""wp_words0 AS MATERIALIZED (
         |  SELECT word, $sym0 AS sym, cnt FROM (
         |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
         |    ) GROUP BY 1
         |  )
         |)""".stripMargin)
    (0 until k).foreach { i =>
      sb.append(",\n").append(
        s"""wp_syms$i AS MATERIALIZED (
           |  SELECT word, cnt, list_slice(string_split(replace(sym, $s1, ''), $s2), 1,
           |                    length(sym) - length(replace(sym, $s2, ''))) AS syms
           |  FROM wp_words$i
           |),
           |wp_sc$i AS MATERIALIZED (
           |  SELECT t AS tok, sum(cnt) AS sc FROM (SELECT unnest(syms) AS t, cnt FROM wp_syms$i) GROUP BY 1
           |),
           |wp_scored$i AS MATERIALIZED (
           |  SELECT p.a, p.b, p.c, sa.sc AS ca, sb.sc AS cb FROM (
           |    SELECT p[1] AS a, p[2] AS b, sum(cnt) AS c FROM (
           |      SELECT unnest(list_zip(list_slice(syms, 1, length(syms)-1), list_slice(syms, 2, length(syms)))) AS p, cnt
           |      FROM wp_syms$i WHERE length(syms) >= 2
           |    ) GROUP BY 1, 2
           |  ) p JOIN wp_sc$i sa ON sa.tok = p.a JOIN wp_sc$i sb ON sb.tok = p.b
           |),
           |wp_best$i AS MATERIALIZED (
           |  SELECT a, b,
           |    a || CASE WHEN substr(b, 1, 2) = '##' THEN substr(b, 3) ELSE b END AS mrg,
           |    $s1 || a || $s2 || $s1 || b || $s2 AS pat,
           |    $s1 || a || CASE WHEN substr(b, 1, 2) = '##' THEN substr(b, 3) ELSE b END || $s2 AS rep
           |  FROM wp_scored$i x WHERE NOT EXISTS (
           |    SELECT 1 FROM wp_scored$i y WHERE
           |      CAST(y.c AS HUGEINT) * x.ca * x.cb > CAST(x.c AS HUGEINT) * y.ca * y.cb
           |      OR (CAST(y.c AS HUGEINT) * x.ca * x.cb = CAST(x.c AS HUGEINT) * y.ca * y.cb
           |          AND (y.a < x.a OR (y.a = x.a AND y.b < x.b)))
           |  ) LIMIT 1
           |),
           |wp_words${i + 1} AS MATERIALIZED (
           |  SELECT word, CASE WHEN pat IS NULL THEN sym ELSE replace(sym, pat, rep) END AS sym, cnt
           |  FROM wp_words$i LEFT JOIN wp_best$i ON TRUE
           |)""".stripMargin)
    }
    sb.toString
  }

  private val WpK = 8

  /** `(rank, a, b)` rows from the `k` argmax stages of [[bpeCtes]]. */
  private def bpeMergeRows(k: Int): String =
    (0 until k)
      .map(i => s"SELECT $i AS r, a, b FROM bpe_best$i")
      .mkString(" UNION ALL ")

  private val BpeK = 16

  /** APPROXIMATE-batch BPE training replayed whole — the
    * `exactBatch = false` production mode (the one a 30k-merge
    * vocabulary actually runs) finally pinned by an oracle instead of
    * specs alone. Per ROUND: pair counts over the current word table
    * ([[bpeCtes]]' separator algebra) → the top `maxBatch` candidates
    * in the trainer's total order (count desc, `(a, b)` asc, binary
    * collation) → the skip-disjoint GREEDY selection unrolled per
    * candidate position (`selectBpeBatch`'s approx branch: position 0
    * always accepted; position j accepted iff its `a`, `b`, and
    * merged string avoid every earlier-ACCEPTED row's `{a, b, ab}`)
    * → the accepted merges applied as a chained `replace` fold
    * (accepted merges are pairwise symbol-disjoint, so sequential
    * application == the batch kernel's one pass). Unrolls `rounds`
    * rounds — one per merge, the 1-accept worst case — and the final
    * SELECT takes the first `numMerges` rows by (round, candidate
    * position), exactly the trainer's `take(numMerges - done)`
    * truncation; rounds past the crossing point cannot disturb that
    * prefix.
    */
  private def bpeApproxCtes(rounds: Int, maxBatch: Int): String = {
    val s1 = "chr(2)"
    val s2 = "chr(31)"
    val sym0 = s"regexp_replace(word, '(.)', $s1 || '\\1' || $s2, 'g')"
    val sb = new StringBuilder
    sb.append(
      s"""ab_words0 AS MATERIALIZED (
         |  SELECT word, $sym0 AS sym, cnt FROM (
         |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents
         |    ) GROUP BY 1
         |  )
         |)""".stripMargin)
    (0 until rounds).foreach { i =>
      sb.append(",\n").append(
        s"""ab_cand$i AS MATERIALIZED (
           |  SELECT a, b, c, row_number() OVER (ORDER BY c DESC, a ASC, b ASC) - 1 AS ci FROM (
           |    SELECT p[1] AS a, p[2] AS b, sum(cnt) AS c FROM (
           |      SELECT unnest(list_zip(list_slice(syms, 1, length(syms)-1), list_slice(syms, 2, length(syms)))) AS p, cnt FROM (
           |        SELECT list_slice(string_split(replace(sym, $s1, ''), $s2), 1,
           |                          length(sym) - length(replace(sym, $s2, ''))) AS syms, cnt FROM ab_words$i
           |      ) WHERE length(syms) >= 2
           |    ) GROUP BY 1, 2
           |  ) ORDER BY c DESC, a ASC, b ASC LIMIT $maxBatch
           |),
           |ab_acc${i}_0 AS MATERIALIZED (SELECT ci, a, b FROM ab_cand$i WHERE ci = 0)""".stripMargin)
      (1 until maxBatch).foreach { j =>
        sb.append(",\n").append(
          s"""ab_acc${i}_$j AS MATERIALIZED (
             |  SELECT ci, a, b FROM ab_acc${i}_${j - 1}
             |  UNION ALL
             |  SELECT x.ci, x.a, x.b FROM ab_cand$i x WHERE x.ci = $j AND NOT EXISTS (
             |    SELECT 1 FROM ab_acc${i}_${j - 1} s
             |    WHERE x.a IN (s.a, s.b, s.a || s.b)
             |       OR x.b IN (s.a, s.b, s.a || s.b)
             |       OR (x.a || x.b) IN (s.a, s.b, s.a || s.b))
             |)""".stripMargin)
      }
      sb.append(",\n").append(
        s"""ab_batch$i AS MATERIALIZED (
           |  SELECT ci, a, b, $s1 || a || $s2 || $s1 || b || $s2 AS pat, $s1 || a || b || $s2 AS rep,
           |    row_number() OVER (ORDER BY ci) - 1 AS j
           |  FROM ab_acc${i}_${maxBatch - 1}
           |)""".stripMargin)
      (0 until maxBatch).foreach { j =>
        val src = if (j == 0) s"ab_words$i" else s"ab_w${i}_$j"
        val dst = if (j == maxBatch - 1) s"ab_words${i + 1}" else s"ab_w${i}_${j + 1}"
        sb.append(",\n").append(
          s"""$dst AS MATERIALIZED (
             |  SELECT word, CASE WHEN pat IS NULL THEN sym ELSE replace(sym, pat, rep) END AS sym, cnt
             |  FROM $src LEFT JOIN (SELECT pat, rep FROM ab_batch$i WHERE j = $j) ON TRUE
             |)""".stripMargin)
      }
    }
    sb.toString
  }

  /** `(rnd, ci, a, b)` rows from the `rounds` batch stages of
    * [[bpeApproxCtes]] — global learned order is (rnd, ci).
    */
  private def bpeApproxMergeRows(rounds: Int): String =
    (0 until rounds)
      .map(i => s"SELECT $i AS rnd, ci, a, b FROM ab_batch$i")
      .mkString(" UNION ALL ")

  /** Vocabulary CTEs over [[bpeCtes]]' stages: base chars of the
    * stage-0 vocabulary (strip the chr(2) prefix separators, split on
    * chr(31)) ordered by binary collation (= code-point order), then
    * merged tokens deduped keep-first-rank and NOT IN base, ids dense
    * after the base block. Shared by q_bpe_vocab and q_bpe_ids.
    */
  private lazy val BpeVocabCtes: String =
    "bpe_base AS (SELECT DISTINCT c AS token FROM (SELECT unnest(string_split(replace(sym, chr(2), ''), chr(31))) AS c FROM bpe_words0) WHERE c <> ''), " +
      "bpe_bn AS (SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id, token, 'base' AS kind FROM bpe_base), " +
      s"bpe_m AS (SELECT r, a || b AS token FROM (${bpeMergeRows(BpeK)})), " +
      "bpe_mf AS (SELECT token, min(r) AS r0 FROM bpe_m WHERE token NOT IN (SELECT token FROM bpe_base) GROUP BY token), " +
      "bpe_mn AS (SELECT CAST((SELECT count(*) FROM bpe_base) + row_number() OVER (ORDER BY r0) - 1 AS BIGINT) AS token_id, token, 'merged' AS kind FROM bpe_mf), " +
      "bpe_voc AS (SELECT token_id, token, kind FROM bpe_bn UNION ALL SELECT token_id, token, kind FROM bpe_mn)"

  /** Shared by q_bpe_encode and its stateless streaming twin
    * q_stream_bpe (composed by concatenation, not an outer
    * stripMargin — the fragment contains `||` operators).
    */
  private lazy val BpeEncodeOracleSql: String =
    s"WITH ${bpeCtes(BpeK)}, " +
      "docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents), " +
      s"perdoc AS (SELECT d.doc_id, CAST(sum(length(w.sym) - length(replace(w.sym, chr(31), ''))) AS BIGINT) AS n " +
      s"FROM docw d JOIN bpe_words$BpeK w USING (word) GROUP BY 1) " +
      "SELECT documents.doc_id, coalesce(perdoc.n, 0) AS n_bpe_tokens " +
      "FROM documents LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id"

  /** Shared supplier<->customer transaction graph for the PageRank
    * gates (customer ids offset by 1e12 — above every TPC-H key space
    * at any SF).
    */
  /** Gate blocklist: substrings of corpus words ("low" ⊂ "slow",
    * "tab"/"table" shared-prefix nesting, "art" ⊂ "part"), full words,
    * and one cross-token pattern with a space ("ue ta" ⊂ "value
    * table") — the overlap/nesting cases an occurrence counter can
    * get wrong.
    */
  private val BlocklistPatterns: Seq[String] =
    Seq("scan", "low", "tab", "table", "art", "order", "fast", "ue ta")

  /** CDC chunk CTEs over `src` (a table or CTE with doc_id + text):
    * direct polynomial window hashes at every end position, cut set,
    * segments via lag + tail remainder, and `cdc_hashed(doc_id,
    * chunk_idx, s, e, sh)` with the SIGNED md5-lower-64 chunk hash.
    * Shared by q_cdc_chunks and q_shared_blocks.
    */
  private def cdcOracleCtes(src: String): String = {
    // B^j mod M for j = 0..15 as a SQL list literal
    val pows = Iterator.iterate(1L)(p => p * 257L % 1000000007L)
      .take(16).mkString("[", ", ", "]")
    s"""cdc AS (SELECT doc_id, text AS t, len(text) AS n FROM $src),
       |cdc_hpos AS (SELECT doc_id, t, n, unnest(range(16, n + 1)) AS i FROM cdc),
       |cdc_hv AS (SELECT doc_id, i,
       |    list_sum(list_transform(range(0, 16),
       |      j -> CAST(ord(substr(t, CAST(i - j AS INTEGER), 1)) AS BIGINT) * ($pows)[j + 1] % 1000000007))
       |      % 1000000007 AS h
       |  FROM cdc_hpos),
       |cdc_cuts AS (SELECT doc_id, i FROM cdc_hv WHERE h % 64 = 0),
       |cdc_segs AS (SELECT doc_id, COALESCE(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s, i AS e FROM cdc_cuts),
       |cdc_tails AS (SELECT c.doc_id, COALESCE(mx.mi, 0) + 1 AS s, c.n AS e
       |  FROM cdc c LEFT JOIN (SELECT doc_id, max(i) AS mi FROM cdc_cuts GROUP BY 1) mx USING (doc_id)
       |  WHERE COALESCE(mx.mi, 0) < c.n),
       |cdc_all AS (SELECT doc_id, s, e FROM cdc_segs UNION ALL SELECT doc_id, s, e FROM cdc_tails),
       |cdc_hashed AS (SELECT doc_id, chunk_idx, s, e,
       |    CAST(CASE WHEN uh >= 9223372036854775808
       |      THEN CAST(uh AS HUGEINT) - 18446744073709551616
       |      ELSE CAST(uh AS HUGEINT) END AS BIGINT) AS sh
       |  FROM (SELECT a.doc_id,
       |      row_number() OVER (PARTITION BY a.doc_id ORDER BY a.s) - 1 AS chunk_idx,
       |      a.s, a.e, md5_number_lower(substr(c.t, CAST(a.s AS INTEGER), CAST(a.e - a.s + 1 AS INTEGER))) AS uh
       |    FROM cdc_all a JOIN cdc c USING (doc_id)))""".stripMargin
  }

  /** Every-occurrence blocklist counts via per-position substring
    * scans (overlapping included — range over ALL start positions);
    * shared by the batch gate and its stateless stream twin.
    */
  /** Winnowing (k=4 grams, w=4 windows) CTEs over the `toks` word
    * arrays — shared by q_winnow and q_winnow_pairs. Ends at `wn_fp`
    * (doc_id, pos, h UBIGINT), no trailing comma.
    */
  private val WinnowCtes: String =
    """wn_sh AS (SELECT doc_id, CASE WHEN len(ws) >= 4
      |  THEN list_transform(range(1, len(ws) - 2), i -> md5_number_lower(array_to_string(ws[i:i+3], ' ')))
      |  ELSE [] END AS hs FROM toks),
      |wn_pos AS (SELECT doc_id, hs, unnest(list_transform(range(0, greatest(len(hs) - 4, 0) + 1),
      |  p -> p + len(hs[p+1:p+4]) - list_position(list_reverse(hs[p+1:p+4]), list_min(hs[p+1:p+4])) + 1)) AS pos
      |  FROM wn_sh WHERE len(hs) > 0),
      |wn_fp AS (SELECT DISTINCT doc_id, pos, hs[CAST(pos AS INTEGER)] AS h FROM wn_pos)
      |""".stripMargin

  /** One hard-EM round of the q_unigram_train oracle: Viterbi-segment
    * every `ug_words` word under the `(token, eff)` cost CTE `cost`
    * (the q_unigram_encode LIST-carrying recursive-CTE DP + the
    * longest-optimal-edge chain walk, prefixed `p`), ending at
    * `<p>_use(token, cnt)` = corpus-weighted piece usage counts.
    */
  private def unigramRoundCtes(p: String, cost: String): String =
    s"${p}_e AS MATERIALIZED (SELECT q.word, list(struct_pack(s := CAST(q.pos AS BIGINT), " +
      s"e := CAST(q.pos + len(v.token) AS BIGINT), f := v.eff)) AS edges " +
      s"FROM ug_pos q JOIN $cost v ON substr(q.word, CAST(q.pos + 1 AS INTEGER), len(v.token)) = v.token GROUP BY 1), " +
      s"${p}_dp AS (" +
      "SELECT word, CAST(len(word) AS BIGINT) AS at, " +
      "list_append(list_transform(range(1, len(word) + 1), x -> CAST(NULL AS BIGINT)), CAST(0 AS BIGINT)) AS best " +
      "FROM ug_words " +
      "UNION ALL " +
      "SELECT d.word, d.at - 1, " +
      "list_transform(range(1, CAST(len(d.word) AS BIGINT) + 2), p -> " +
      "CASE WHEN p = d.at THEN " +
      "list_min(list_transform(" +
      "list_filter(e.edges, ed -> ed.s = d.at - 1 AND d.best[CAST(ed.e AS INTEGER) + 1] IS NOT NULL), " +
      "ed -> ed.f + d.best[CAST(ed.e AS INTEGER) + 1])) " +
      s"ELSE d.best[CAST(p AS INTEGER)] END) " +
      s"FROM ${p}_dp d JOIN ${p}_e e USING (word) WHERE d.at > 0), " +
      s"${p}_sufp AS MATERIALIZED (SELECT word, unnest(range(0, len(word) + 1)) AS pos, best " +
      s"FROM ${p}_dp WHERE at = 0), " +
      s"${p}_suf AS MATERIALIZED (SELECT word, pos, best[CAST(pos AS INTEGER) + 1] AS sc FROM ${p}_sufp), " +
      s"${p}_next AS MATERIALIZED (SELECT q.word, q.pos, max(len(v.token)) AS bl " +
      s"FROM ug_pos q " +
      s"JOIN $cost v ON substr(q.word, CAST(q.pos + 1 AS INTEGER), len(v.token)) = v.token " +
      s"JOIN ${p}_suf s0 ON s0.word = q.word AND s0.pos = q.pos " +
      s"JOIN ${p}_suf s1 ON s1.word = q.word AND s1.pos = q.pos + len(v.token) " +
      "WHERE s1.sc IS NOT NULL AND s0.sc IS NOT NULL AND s0.sc = v.eff + s1.sc " +
      "GROUP BY 1, 2), " +
      s"${p}_walk AS (" +
      "SELECT word, CAST(0 AS BIGINT) AS pos FROM ug_words " +
      "UNION ALL " +
      s"SELECT w.word, w.pos + n.bl FROM ${p}_walk w " +
      s"JOIN ${p}_next n ON n.word = w.word AND n.pos = w.pos " +
      "WHERE w.pos < len(w.word)), " +
      s"${p}_use AS MATERIALIZED (SELECT substr(w.word, CAST(w.pos + 1 AS INTEGER), CAST(n.bl AS INTEGER)) AS token, " +
      "CAST(sum(c.cnt) AS BIGINT) AS cnt " +
      s"FROM ${p}_walk w JOIN ${p}_next n ON n.word = w.word AND n.pos = w.pos " +
      "JOIN ug_wc c ON c.word = w.word WHERE w.pos < len(w.word) GROUP BY 1)"

  /** The q_unigram_train hard-EM replay as a reusable CTE chain —
    * ends at `ug_v2`/`ug_t2` (the post-round-2 kept counts and the
    * floored total). q_unigram_train selects the final costs from
    * it; q_unigram_apply chains a THIRD Viterbi round on top.
    */
  private lazy val UnigramTrainCtes: String =
    "WITH RECURSIVE " +
          "ug_wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt " +
          "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents) GROUP BY 1), " +
          "ug_words AS MATERIALIZED (SELECT word FROM ug_wc), " +
          "ug_pos AS MATERIALIZED (SELECT word, unnest(range(0, len(word))) AS pos FROM ug_words), " +
          "ug_sub AS MATERIALIZED (SELECT word, pos, unnest(range(1, least(5, len(word) - pos) + 1)) AS l FROM ug_pos), " +
          "ug_occ AS MATERIALIZED (SELECT substr(s.word, CAST(s.pos + 1 AS INTEGER), CAST(s.l AS INTEGER)) AS sub, " +
          "CAST(sum(w.cnt) AS BIGINT) AS n FROM ug_sub s JOIN ug_wc w ON w.word = s.word GROUP BY 1), " +
          "ug_chars AS MATERIALIZED (SELECT sub, n FROM ug_occ WHERE len(sub) = 1), " +
          "ug_nc AS MATERIALIZED (SELECT count(*) AS nc FROM ug_chars), " +
          "ug_m0 AS MATERIALIZED (SELECT sub, n FROM ug_occ, ug_nc WHERE len(sub) > 1 " +
          "QUALIFY row_number() OVER (ORDER BY n DESC, sub) <= 120 - nc), " +
          "ug_v0 AS MATERIALIZED (SELECT sub AS token, n FROM ug_chars UNION ALL SELECT sub, n FROM ug_m0), " +
          "ug_t0 AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS t FROM ug_v0), " +
          "ug_c0 AS MATERIALIZED (SELECT token, CAST(round(ln(CAST(t AS DOUBLE) / n) * 1e9) AS BIGINT) * 1024 + 1 AS eff " +
          "FROM ug_v0 CROSS JOIN ug_t0), " +
          unigramRoundCtes("ug_r1", "ug_c0") + ", " +
          "ug_kc1 AS MATERIALIZED (SELECT c.sub AS token, coalesce(u.cnt, 0) AS cnt " +
          "FROM ug_chars c LEFT JOIN ug_r1_use u ON u.token = c.sub), " +
          "ug_km1 AS MATERIALIZED (SELECT token, cnt FROM ug_r1_use, ug_nc WHERE len(token) > 1 " +
          "QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 40 - nc), " +
          "ug_v1 AS MATERIALIZED (SELECT token, cnt FROM ug_kc1 UNION ALL SELECT token, cnt FROM ug_km1), " +
          "ug_t1 AS MATERIALIZED (SELECT CAST(sum(greatest(cnt, 1)) AS BIGINT) AS t FROM ug_v1), " +
          "ug_c1 AS MATERIALIZED (SELECT token, " +
          "CAST(round(ln(CAST(t AS DOUBLE) / greatest(cnt, 1)) * 1e9) AS BIGINT) * 1024 + 1 AS eff " +
          "FROM ug_v1 CROSS JOIN ug_t1), " +
          unigramRoundCtes("ug_r2", "ug_c1") + ", " +
          "ug_kc2 AS MATERIALIZED (SELECT c.sub AS token, coalesce(u.cnt, 0) AS cnt " +
          "FROM ug_chars c LEFT JOIN ug_r2_use u ON u.token = c.sub), " +
          "ug_km2 AS MATERIALIZED (SELECT token, cnt FROM ug_r2_use, ug_nc WHERE len(token) > 1 " +
          "QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 40 - nc), " +
          "ug_v2 AS MATERIALIZED (SELECT token, cnt FROM ug_kc2 UNION ALL SELECT token, cnt FROM ug_km2), " +
          "ug_t2 AS MATERIALIZED (SELECT CAST(sum(greatest(cnt, 1)) AS BIGINT) AS t FROM ug_v2) "

  private lazy val UnigramTrainOracleSql: String =
    UnigramTrainCtes + " " +
          "SELECT token, cnt, " +
          "CAST(round(ln(CAST(t AS DOUBLE) / greatest(cnt, 1)) * 1e9) AS BIGINT) AS cost_nano " +
          "FROM ug_v2 CROSS JOIN ug_t2 ORDER BY token"

  /** Shared by q_wordpiece_train and q_wordpiece_train_dist — the
    * likelihood-scored merge replay with exact HUGEINT
    * cross-multiplied arg-max (see wordpieceCtes).
    */
  private lazy val WordpieceTrainOracleSql: String =
    s"WITH ${wordpieceCtes(WpK)} " +
      "SELECT CAST(r AS BIGINT) AS rank, a, b, merged FROM (" +
      (0 until WpK)
        .map(i => s"SELECT $i AS r, a, b, mrg AS merged FROM wp_best$i")
        .mkString(" UNION ALL ") +
      ") ORDER BY rank"

  /** Shared by q_bloom_screen and its stateless stream twin
    * q_stream_bloom.
    */
  private lazy val BloomOracleSql: String =
    """WITH b AS (SELECT DISTINCT unnest(list_transform(range(1, 5),
      |    i -> ((i * 2654435761 % 2147483647) * CAST(md5_number_lower(text) % 2147483647 AS BIGINT)
      |          + i * 40503 % 2147483647) % 2147483647 % 4096)) AS pos
      |  FROM documents WHERE doc_id % 2 = 0),
      |p AS (SELECT doc_id, unnest(list_transform(range(1, 5),
      |    i -> ((i * 2654435761 % 2147483647) * CAST(md5_number_lower(text) % 2147483647 AS BIGINT)
      |          + i * 40503 % 2147483647) % 2147483647 % 4096)) AS pos
      |  FROM documents),
      |j AS (SELECT p.doc_id, min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS ok
      |  FROM p LEFT JOIN b ON p.pos = b.pos GROUP BY 1)
      |SELECT doc_id, ok = 1 AS hit FROM j ORDER BY doc_id""".stripMargin

  private lazy val BlocklistOracleSql: String = {
    val cnt = BlocklistPatterns.zipWithIndex.map { case (p, j) =>
      s"coalesce(list_sum(list_transform(range(1, greatest(len(t) - ${p.length} + 2, 1)), " +
        s"i -> CASE WHEN substr(t, i, ${p.length}) = '$p' THEN 1 ELSE 0 END)), 0) AS c$j"
    }.mkString(", ")
    val hits = BlocklistPatterns.indices.map(j => s"c$j").mkString(" + ")
    val fired = BlocklistPatterns.indices
      .map(j => s"CASE WHEN c$j > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val sum = BlocklistPatterns.indices.map(j => s"c$j * ${j + 1}").mkString(" + ")
    s"WITH bl AS (SELECT doc_id, lower(text) AS t FROM documents), " +
      s"c AS (SELECT doc_id, $cnt FROM bl) " +
      s"SELECT doc_id, CAST($hits AS BIGINT) AS n_hits, " +
      s"CAST($fired AS INTEGER) AS n_patterns, " +
      s"CAST($sum AS BIGINT) AS checksum FROM c ORDER BY doc_id"
  }

  /** Directed supplier -> customer transaction edges (customer keys
    * offset by 1e12 to keep the id spaces disjoint at any SF).
    */
  private def transactionEdges(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("l_suppkey").cast("long").as("src"),
        (col("o_custkey").cast("long") + lit(1000000000000L)).as("dst"))
  }

  private def pageRankEdges(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val fwd = transactionEdges(s, dir)
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Undirected part co-purchase edges (parts sharing an order),
    * canonical a < b — the non-bipartite gate graph for triangles /
    * LPA / k-core.
    */
  private def coPurchaseEdges(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    li.select(col("o"), col("p").as("src"))
      .join(li.select(col("o"), col("p").as("dst")), "o")
      .filter(col("src") < col("dst"))
      .select("src", "dst")
  }

  /** PageRank as `k` chained MATERIALIZED CTE stages (same
    * non-recursive-iteration trick as [[bpeCtes]]). Integer fixed-point
    * arithmetic in a unit of 10^`digits` per 1.0 (9 = nano, 6 = micro —
    * mirrors `Graphs.pageRank`'s unit ladder, final rank rescaled back
    * to nano exactly as the engine does); `//` is DuckDB's
    * truncating-for-positives integer division = Spark's `div` on the
    * same non-negative BIGINTs. Damping fixed at 850/1000 to match
    * `Graphs.pageRank`'s default.
    */
  /** Weighted damped walk: contribution `(r · w) div W(src)` over the
    * multiplicity-weighted symmetrized transaction graph.
    */
  private def weightedPrCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""wpr_fwd AS MATERIALIZED (
         |  SELECT CAST(l_suppkey AS BIGINT) AS src, CAST(o_custkey + 1000000000000 AS BIGINT) AS dst, CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2
         |),
         |wpr_edges AS MATERIALIZED (
         |  SELECT src, dst, w FROM wpr_fwd UNION ALL SELECT dst AS src, src AS dst, w FROM wpr_fwd
         |),
         |wpr_ws AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM wpr_edges GROUP BY 1),
         |wpr_nodes AS MATERIALIZED (SELECT src AS node FROM wpr_edges UNION SELECT dst FROM wpr_edges),
         |wpr_r0 AS MATERIALIZED (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM wpr_nodes)""".stripMargin)
    (0 until k).foreach { i =>
      sb.append(",\n").append(
        s"""wpr_r${i + 1} AS MATERIALIZED (
           |  SELECT n.node, CAST(150000000 + (850 * COALESCE(s.c, 0)) // 1000 AS BIGINT) AS r
           |  FROM wpr_nodes n LEFT JOIN (
           |    SELECT e.dst AS node, SUM((r.r * e.w) // d.ws) AS c
           |    FROM wpr_edges e JOIN wpr_r$i r ON e.src = r.node JOIN wpr_ws d ON e.src = d.src
           |    GROUP BY 1
           |  ) s ON n.node = s.node
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Synchronous LPA as `k` chained CTE rounds over the part
    * co-purchase graph: per round, per-(node, label) neighbor-vote
    * counts then a windowed (count desc, label asc) argmax — the same
    * total order the engine's max(struct(c, -label)) aggregate takes.
    */
  private def lpaCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""lp_li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem),
         |lp_half AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b FROM lp_li x JOIN lp_li y ON x.o = y.o AND x.p < y.p),
         |lp_edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM lp_half UNION ALL SELECT b AS src, a AS dst FROM lp_half),
         |lp_r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM lp_edges)""".stripMargin)
    (0 until k).foreach { i =>
      sb.append(",\n").append(
        s"""lp_c$i AS MATERIALIZED (
           |  SELECT e.dst AS node, r.label, CAST(count(*) AS BIGINT) AS c
           |  FROM lp_edges e JOIN lp_r$i r ON e.src = r.node GROUP BY 1, 2
           |),
           |lp_r${i + 1} AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
           |    FROM lp_c$i
           |  ) WHERE rn = 1
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Integer-micro HITS as `k` chained CTE rounds over the directed
    * supplier -> customer graph: per half-step an in/out-edge sum
    * (union-zero keeps isolated roles present) then the truncating
    * ceiling-divisor rescale into [0, 1e6] — exactly the engine's
    * arithmetic.
    */
  private def hitsCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""ht_e AS MATERIALIZED (
         |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src, CAST(o_custkey + 1000000000000 AS BIGINT) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |),
         |ht_nodes AS MATERIALIZED (SELECT src AS node FROM ht_e UNION SELECT dst FROM ht_e),
         |ht_h0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS h FROM ht_nodes)""".stripMargin)
    (1 to k).foreach { i =>
      sb.append(",\n").append(
        s"""ht_ar$i AS MATERIALIZED (
           |  SELECT n.node, CAST(COALESCE(s.r, 0) AS BIGINT) AS raw FROM ht_nodes n LEFT JOIN (
           |    SELECT e.dst AS nd, SUM(h.h) AS r FROM ht_e e JOIN ht_h${i - 1} h ON e.src = h.node GROUP BY 1
           |  ) s ON n.node = s.nd
           |),
           |ht_a$i AS MATERIALIZED (
           |  SELECT node, CAST(raw // d AS BIGINT) AS a FROM ht_ar$i CROSS JOIN
           |    (SELECT greatest((max(raw) + 999999) // 1000000, 1) AS d FROM ht_ar$i) m
           |),
           |ht_hr$i AS MATERIALIZED (
           |  SELECT n.node, CAST(COALESCE(s.r, 0) AS BIGINT) AS raw FROM ht_nodes n LEFT JOIN (
           |    SELECT e.src AS nd, SUM(a.a) AS r FROM ht_e e JOIN ht_a$i a ON e.dst = a.node GROUP BY 1
           |  ) s ON n.node = s.nd
           |),
           |ht_h$i AS MATERIALIZED (
           |  SELECT node, CAST(raw // d AS BIGINT) AS h FROM ht_hr$i CROSS JOIN
           |    (SELECT greatest((max(raw) + 999999) // 1000000, 1) AS d FROM ht_hr$i) m
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Damped-walk CTE chain; `seedPred` (a SQL predicate over `node`)
    * gates the initial mass and base term on seed membership — None is
    * the global walk, Some the personalized one.
    */
  private def pageRankCtes(
      k: Int, digits: Int = 9, seedPred: Option[String] = None): String = {
    val u = math.pow(10, digits).toLong
    val base = 150L * (u / 1000L)
    val r0 = seedPred match {
      case None => s"CAST($u AS BIGINT)"
      case Some(p) => s"CAST(CASE WHEN $p THEN $u ELSE 0 END AS BIGINT)"
    }
    val baseTerm = seedPred match {
      case None => base.toString
      case Some(p) => s"CASE WHEN ${p.replace("node", "n.node")} THEN $base ELSE 0 END"
    }
    val sb = new StringBuilder
    sb.append(
      s"""pr_fwd AS MATERIALIZED (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src, CAST(o_custkey + 1000000000000 AS BIGINT) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |),
        |pr_edges AS MATERIALIZED (
        |  SELECT src, dst FROM pr_fwd UNION SELECT dst AS src, src AS dst FROM pr_fwd
        |),
        |pr_deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM pr_edges GROUP BY 1),
        |pr_nodes AS MATERIALIZED (SELECT src AS node FROM pr_edges UNION SELECT dst FROM pr_edges),
        |pr_r0 AS MATERIALIZED (SELECT node, $r0 AS r FROM pr_nodes)""".stripMargin)
    (0 until k).foreach { i =>
      sb.append(",\n").append(
        s"""pr_r${i + 1} AS MATERIALIZED (
           |  SELECT n.node, CAST($baseTerm + (850 * COALESCE(s.c, 0)) // 1000 AS BIGINT) AS r
           |  FROM pr_nodes n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(r.r // d.deg) AS c
           |    FROM pr_edges e JOIN pr_r$i r ON e.src = r.node AND r.r <> 0 JOIN pr_deg d ON e.src = d.src
           |    GROUP BY 1
           |  ) s ON n.node = s.node
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Fixed-round synchronous k-core peel over the part co-purchase
    * graph: per round a degree count, a keep set, and a two-sided
    * semi-join back onto the surviving edges — the engine's
    * kCoreRounds verbatim.
    */
  private def kcoreCtes(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""kc_li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem),
         |kc_half AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b FROM kc_li x JOIN kc_li y ON x.o = y.o AND x.p < y.p),
         |kc_e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM kc_half UNION ALL SELECT b AS src, a AS dst FROM kc_half)""".stripMargin)
    (0 until rounds).foreach { i =>
      sb.append(",\n").append(
        s"""kc_k$i AS MATERIALIZED (
           |  SELECT src FROM (SELECT src, count(*) AS degree FROM kc_e$i GROUP BY 1) WHERE degree >= $k
           |),
           |kc_e${i + 1} AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM kc_e$i e
           |  JOIN kc_k$i s ON e.src = s.src JOIN kc_k$i t ON e.dst = t.src
           |)""".stripMargin)
    }
    sb.toString
  }

  /** Word 3-gram shingles + md5-mod-P base hashes (matches
    * HashUtil.shingleHashes with n=3): texts of <= 3 words yield one
    * whole-text shingle.
    */
  private val ShingleCtes: String =
    """sh AS (
      |  SELECT doc_id, CASE WHEN len(ws) <= 3
      |    THEN [coalesce(list_aggregate(ws, 'string_agg', ' '), '')]
      |    ELSE list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |  END AS shingles FROM toks),
      |bh AS (
      |  SELECT doc_id, list_transform(shingles,
      |    s -> CAST(md5_number_lower(s) % 2147483647 AS BIGINT)) AS hs FROM sh)""".stripMargin

  /** 64-lane minhash signature from base hashes (1-based lane i in
    * SQL == 0-based lane i-1 in HashUtil.laneA/laneB).
    */
  private val SigCte: String =
    """sig AS (
      |  SELECT doc_id, list_transform(range(1, 65), i ->
      |    list_min(list_transform(hs,
      |      h -> (((i * 2654435761) % 2147483647) * h + (i * 40503) % 2147483647) % 2147483647))) AS sig
      |  FROM bh)""".stripMargin

  /** 64-bit SimHash per doc (bit-replicates
    * `DedupExpressions.simhash64`: per bit, sign of +1/-1 votes over
    * md5Lower64 token hashes; sign bit assembled via the two-halves
    * BIGINT trick) — ends with `shs(doc_id, simhash)`. Requires
    * `toks` in scope. Shared by q_simhash and q_simhash_pairs.
    */
  private val SimhashCtes: String =
    """shh AS (SELECT doc_id, list_transform(ws, t -> md5_number_lower(t)) AS hs FROM toks),
      |shb AS (SELECT doc_id, list_transform(range(0, 64), b ->
      |    CASE WHEN len(hs) > 0 AND list_sum(list_transform(hs,
      |      h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) AS bv
      |  FROM shh),
      |shp AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 32), b ->
      |      CASE WHEN bv[b+1] = 1 THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(range(32, 63), b ->
      |      CASE WHEN bv[b+1] = 1 THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END)) AS BIGINT) AS hi,
      |    bv[64] AS sb
      |  FROM shb),
      |shs AS (SELECT doc_id,
      |    lo + hi * 4294967296 + CASE WHEN sb = 1 THEN -9223372036854775807 - 1 ELSE 0 END AS simhash
      |  FROM shp)""".stripMargin

  /** Block-combination simhash candidate pairs + exact-hamming rescore
    * (6 blocks, C(6,3) = 20 tables keyed on 3-block concatenations,
    * bucket cap 2000, hamming ≤ 3 — mirrors `Dedup.simhashPairs`
    * defaults; block values reconstruct from the signed simhash via
    * the unsigned HUGEINT divide/mod == shiftrightunsigned + mask,
    * keys pack multiply-add == shift-or, and `bit_count(xor)` has
    * identical two's-complement semantics in both engines) — ends with
    * `shpairs(id_a, id_b, hamming)`. Requires [[SimhashCtes]] in
    * scope. Shared by q_simhash_pairs and q_simhash_dedup.
    */
  private lazy val SimhashPairCtes: String = {
    val b = 6
    val widths = graft.functions.Dedup.simhashBlockWidths(b)
    val offsets = widths.scanLeft(0)(_ + _).init
    val tables = graft.functions.Dedup.simhashTables(b, 3)
    val bvCols = widths.indices.map { i =>
      s"CAST((us // ${(BigInt(1) << offsets(i)).toString}) % ${1L << widths(i)} AS BIGINT) AS bv$i"
    }.mkString(",\n    ")
    // per-table key: selected blocks packed high-to-low (multiply-add
    // over disjoint bit ranges == Spark's shiftleft+or fold)
    val keyExprs = tables.map { sel =>
      sel.tail.foldLeft(s"bv${sel.head}") { (acc, bi) =>
        s"($acc * ${1L << widths(bi)} + bv$bi)"
      }
    }.mkString("[", ", ", "]")
    s"""shu AS (SELECT doc_id, CASE WHEN simhash < 0
       |    THEN CAST(simhash AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(simhash AS HUGEINT) END AS us FROM shs),
       |shbv AS (SELECT doc_id,
       |    $bvCols
       |  FROM shu),
       |shk AS (SELECT doc_id, tbl, list_extract($keyExprs, tbl + 1) AS key
       |  FROM shbv, range(0, ${tables.size}) t(tbl)),
       |okb AS (SELECT tbl, key FROM shk GROUP BY tbl, key HAVING count(*) <= 2000),
       |bcs AS (SELECT shk.* FROM shk JOIN okb USING (tbl, key)),
       |cand AS (SELECT DISTINCT least(a.doc_id, c.doc_id) AS id_a,
       |    greatest(a.doc_id, c.doc_id) AS id_b
       |  FROM bcs a JOIN bcs c ON a.tbl = c.tbl AND a.key = c.key AND a.doc_id <> c.doc_id),
       |shpairs AS (SELECT id_a, id_b,
       |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |  FROM cand JOIN shs sa ON sa.doc_id = id_a JOIN shs sb ON sb.doc_id = id_b
       |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3)""".stripMargin
  }

  /** Incremental near-dup screen oracle (new docs >= 400 vs the
    * < 400 corpus index) — shared verbatim by q_dedup_incremental and
    * q_stream_neardedup: the streaming screen runs the identical
    * batch operator per micro-batch against a static index, so the
    * streamed union over the same rows IS the batch result.
    */
  private lazy val IncrementalDedupOracleSql: String =
    s"""WITH ${tokCte()}, $ShingleCtes, $SigCte,
       |bandk AS (
       |  SELECT doc_id, sig,
       |    md5_number_lower(CAST(b AS VARCHAR) || ':' ||
       |        list_aggregate(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS band
       |  FROM sig, range(0, 8) t(b)),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS nid, n.sig AS nsig, c.doc_id AS cid, c.sig AS csig
       |  FROM bandk n JOIN bandk c ON n.band = c.band
       |  WHERE n.doc_id >= 400 AND c.doc_id < 400),
       |m AS (
       |  SELECT nid, min(cid) AS dup_of FROM cand
       |  WHERE CAST(len(list_filter(range(1, 65), i -> nsig[i] = csig[i])) AS DOUBLE) / 64.0 >= 0.5
       |  GROUP BY nid)
       |SELECT d.doc_id, m.dup_of FROM documents d LEFT JOIN m ON m.nid = d.doc_id
       |WHERE d.doc_id >= 400 ORDER BY d.doc_id""".stripMargin

  /** The shared int8-quantization prefix (`sc` global scale, `qv`
    * quantized vectors) — the ONE place the quantization formula
    * lives on the oracle side; [[KMeansCtes]] composes it, and
    * oracles that need the quantized domain without the Lloyd chain
    * (q_ann_exact_knn) use it directly.
    */
  private val QuantVecCtes: String =
    """sc AS (
          |  SELECT max(list_max(list_transform(embedding,
          |    x -> abs(CAST(x AS DOUBLE))))) AS s FROM embeddings),
          |qv AS (
          |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
          |    list_transform(embedding,
          |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) AS BIGINT)) AS q
          |  FROM embeddings, sc)""".stripMargin

  /** Two unrolled integer Lloyd's iterations over the quantized
    * embeddings (matches Similarity.kmeansFitInt8 with k = 4,
    * iters = 2, id-ordered init): dN/aN = assignment round N, sN/cN =
    * per-(cell,dim) integer sums -> round-half-up centroids. Ends
    * with `a3(vec_id, cell)`, the final assignment. Shared by
    * q_kmeans and q_cluster_balance.
    */
  private val KMeansCtes: String =
    s"""$QuantVecCtes,
          |c0 AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, q
          |  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 4)),
          |d1 AS (
          |  SELECT v.vec_id, v.q, c.cell,
          |    list_sum(list_transform(range(1, 65),
          |      j -> (v.q[j] - c.q[j]) * (v.q[j] - c.q[j]))) AS dist
          |  FROM qv v CROSS JOIN c0 c),
          |a1 AS (SELECT vec_id, q, cell FROM (
          |  SELECT vec_id, q, cell,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
          |  FROM d1) WHERE rk = 1),
          |s1 AS (SELECT cell, j, sum(q[j]) AS sv, count(*) AS n
          |  FROM a1, range(1, 65) t(j) GROUP BY 1, 2),
          |c1 AS (
          |  SELECT c0.cell, coalesce(u.nq, c0.q) AS q FROM c0 LEFT JOIN (
          |    SELECT cell, list(CAST(floor((2.0 * sv + n) / (2 * n)) AS BIGINT)
          |      ORDER BY j) AS nq
          |    FROM s1 GROUP BY cell) u USING (cell)),
          |d2 AS (
          |  SELECT v.vec_id, v.q, c.cell,
          |    list_sum(list_transform(range(1, 65),
          |      j -> (v.q[j] - c.q[j]) * (v.q[j] - c.q[j]))) AS dist
          |  FROM qv v CROSS JOIN c1 c),
          |a2 AS (SELECT vec_id, q, cell FROM (
          |  SELECT vec_id, q, cell,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
          |  FROM d2) WHERE rk = 1),
          |s2 AS (SELECT cell, j, sum(q[j]) AS sv, count(*) AS n
          |  FROM a2, range(1, 65) t(j) GROUP BY 1, 2),
          |c2 AS (
          |  SELECT c1.cell, coalesce(u.nq, c1.q) AS q FROM c1 LEFT JOIN (
          |    SELECT cell, list(CAST(floor((2.0 * sv + n) / (2 * n)) AS BIGINT)
          |      ORDER BY j) AS nq
          |    FROM s2 GROUP BY cell) u USING (cell)),
          |d3 AS (
          |  SELECT v.vec_id, c.cell,
          |    list_sum(list_transform(range(1, 65),
          |      j -> (v.q[j] - c.q[j]) * (v.q[j] - c.q[j]))) AS dist
          |  FROM qv v CROSS JOIN c2 c),
          |a3 AS (SELECT vec_id, cell FROM (
          |  SELECT vec_id, cell,
          |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
          |  FROM d3) WHERE rk = 1)""".stripMargin

  /** The PQ sub-space Lloyd + encode algebra — the KMeansCtes pattern
    * generalized with a `sub` column, over quantized vectors from CTE
    * `src` (column `fld`): m=4 sub-spaces of 16 dims, k=4 id-ordered
    * seeds per sub, 2 iterations, final codes. Ends at
    * `pq_enc(sub, vec_id, cell)` with codebooks in `pq_c2`. q_ann_pq
    * runs it over raw quantized vectors (`qv.q`), q_ann_ivfpq over
    * coarse-cell RESIDUALS (`ivq.rq`).
    */
  private def pqCoreCtes(src: String, fld: String): String =
    s"""pq_sv AS (
          |  SELECT t.sub, v.vec_id,
          |    list_transform(range(1, 17), j -> v.$fld[CAST(t.sub * 16 + j AS INTEGER)]) AS sq
          |  FROM $src v CROSS JOIN range(0, 4) t(sub)),
          |pq_c0 AS (
          |  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS cell, sq
          |  FROM pq_sv QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) <= 4),
          |pq_d1 AS (
          |  SELECT v.sub, v.vec_id, v.sq, c.cell,
          |    list_sum(list_transform(range(1, 17),
          |      j -> (v.sq[j] - c.sq[j]) * (v.sq[j] - c.sq[j]))) AS dist
          |  FROM pq_sv v JOIN pq_c0 c ON c.sub = v.sub),
          |pq_a1 AS (SELECT sub, vec_id, sq, cell FROM (
          |  SELECT sub, vec_id, sq, cell,
          |    row_number() OVER (PARTITION BY sub, vec_id ORDER BY dist, cell) AS rk
          |  FROM pq_d1) WHERE rk = 1),
          |pq_s1 AS (SELECT sub, cell, j, sum(sq[j]) AS sv, count(*) AS n
          |  FROM pq_a1, range(1, 17) t(j) GROUP BY 1, 2, 3),
          |pq_c1 AS (
          |  SELECT c0.sub, c0.cell, coalesce(u.nq, c0.sq) AS sq FROM pq_c0 c0 LEFT JOIN (
          |    SELECT sub, cell, list(CAST(floor((2.0 * sv + n) / (2 * n)) AS BIGINT)
          |      ORDER BY j) AS nq
          |    FROM pq_s1 GROUP BY sub, cell) u USING (sub, cell)),
          |pq_d2 AS (
          |  SELECT v.sub, v.vec_id, v.sq, c.cell,
          |    list_sum(list_transform(range(1, 17),
          |      j -> (v.sq[j] - c.sq[j]) * (v.sq[j] - c.sq[j]))) AS dist
          |  FROM pq_sv v JOIN pq_c1 c ON c.sub = v.sub),
          |pq_a2 AS (SELECT sub, vec_id, sq, cell FROM (
          |  SELECT sub, vec_id, sq, cell,
          |    row_number() OVER (PARTITION BY sub, vec_id ORDER BY dist, cell) AS rk
          |  FROM pq_d2) WHERE rk = 1),
          |pq_s2 AS (SELECT sub, cell, j, sum(sq[j]) AS sv, count(*) AS n
          |  FROM pq_a2, range(1, 17) t(j) GROUP BY 1, 2, 3),
          |pq_c2 AS (
          |  SELECT c1.sub, c1.cell, coalesce(u.nq, c1.sq) AS sq FROM pq_c1 c1 LEFT JOIN (
          |    SELECT sub, cell, list(CAST(floor((2.0 * sv + n) / (2 * n)) AS BIGINT)
          |      ORDER BY j) AS nq
          |    FROM pq_s2 GROUP BY sub, cell) u USING (sub, cell)),
          |pq_enc AS (SELECT sub, vec_id, cell FROM (
          |  SELECT v.sub, v.vec_id, c.cell,
          |    row_number() OVER (PARTITION BY v.sub, v.vec_id ORDER BY
          |      list_sum(list_transform(range(1, 17),
          |        j -> (v.sq[j] - c.sq[j]) * (v.sq[j] - c.sq[j]))), c.cell) AS rk
          |  FROM pq_sv v JOIN pq_c2 c ON c.sub = v.sub) WHERE rk = 1)""".stripMargin


  /** The q_ann_pq oracle: the PQ pipeline replayed whole — sub-space
    * Lloyd iterations (the KMeansCtes algebra + a `sub` column), final
    * codes, exact integer ADC; the top-10 DISTANCES hash-match, not
    * just ids. SHARED verbatim by q_ann_pq (inline encode) and
    * q_ann_pq_persisted (stored codes) — the two Spark paths are
    * bit-equal by construction, so one oracle pins both.
    */
  private lazy val AnnPqCtes: String =
    (s"$QuantVecCtes,\n" +
      pqCoreCtes("qv", "q") +
      """,
       |pq_qq AS (SELECT sub, sq FROM pq_sv WHERE vec_id = 0),
       |pq_tbl AS (
       |  SELECT c.sub, c.cell,
       |    list_sum(list_transform(range(1, 17),
       |      j -> (q.sq[j] - c.sq[j]) * (q.sq[j] - c.sq[j]))) AS d
       |  FROM pq_c2 c JOIN pq_qq q ON q.sub = c.sub),
       |pq_score AS (
       |  SELECT e.vec_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
       |  FROM pq_enc e JOIN pq_tbl t ON t.sub = e.sub AND t.cell = e.cell
       |  GROUP BY 1)""".stripMargin)

  private lazy val AnnPqOracle: String =
    s"WITH $AnnPqCtes " +
      """SELECT vec_id, adc_dist FROM pq_score
       |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin

  /** The q_ann_ivfpq oracle: IVF-PQ replayed whole — the coarse
    * k-means (KMeansCtes), the integer residuals, the sub-space PQ
    * fit over them, the 2-nearest-cell probe, and the per-probed-cell
    * residual ADC — top-10 distances hash-pinned, rows in unprobed
    * cells pruned. SHARED verbatim by q_ann_ivfpq (inline encode;
    * compute pruning) and q_ann_ivfpq_persisted (stored
    * cell-partitioned codes; PARTITION pruning) — same integers, one
    * oracle pins both.
    */
  private lazy val AnnIvfPqCtes: String =
    (s"""$KMeansCtes,
       |ivq AS (SELECT v.vec_id, a.cell AS ccell,
       |    list_transform(range(1, 65), j -> v.q[j] - c.q[j]) AS rq
       |  FROM qv v JOIN a3 a ON a.vec_id = v.vec_id
       |  JOIN c2 c ON c.cell = a.cell),
       |""".stripMargin +
      pqCoreCtes("ivq", "rq") +
      """,
       |iq_q AS (SELECT q FROM qv WHERE vec_id = 0),
       |iq_pd AS (SELECT c.cell,
       |    list_sum(list_transform(range(1, 65),
       |      j -> (q.q[j] - c.q[j]) * (q.q[j] - c.q[j]))) AS d
       |  FROM c2 c CROSS JOIN iq_q q),
       |iq_probe AS (SELECT cell FROM iq_pd ORDER BY d, cell LIMIT 2),
       |iq_res AS (SELECT c.cell,
       |    list_transform(range(1, 65), j -> q.q[j] - c.q[j]) AS rq
       |  FROM c2 c JOIN iq_probe USING (cell) CROSS JOIN iq_q q),
       |iq_tbl AS (SELECT r.cell AS ccell, pc.sub, pc.cell AS code,
       |    list_sum(list_transform(range(1, 17),
       |      j -> (r.rq[CAST(pc.sub * 16 + j AS INTEGER)] - pc.sq[j]) *
       |           (r.rq[CAST(pc.sub * 16 + j AS INTEGER)] - pc.sq[j]))) AS d
       |  FROM iq_res r CROSS JOIN pq_c2 pc),
       |iq_score AS (SELECT e.vec_id, max(v.ccell) AS ccell,
       |    CAST(sum(t.d) AS BIGINT) AS adc_dist
       |  FROM pq_enc e JOIN ivq v ON v.vec_id = e.vec_id
       |  JOIN iq_tbl t ON t.ccell = v.ccell AND t.sub = e.sub AND t.code = e.cell
       |  GROUP BY e.vec_id)""".stripMargin)

  private lazy val AnnIvfPqOracle: String =
    s"WITH $AnnIvfPqCtes " +
      """SELECT vec_id, CAST(ccell AS BIGINT) AS cell, adc_dist FROM iq_score
       |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin

  /** The refined gate's oracle: the full IVF-PQ chain, ADC
    * top-`rerank` candidates, then the EXACT integer quantized L2
    * against the query re-ranks the final top-10 — both distance
    * stages hash-pinned.
    */
  private lazy val AnnIvfPqRefinedOracle: String =
    s"WITH $AnnIvfPqCtes, " +
      """iq_cand AS (SELECT vec_id, ccell, adc_dist FROM iq_score
       |  ORDER BY adc_dist, vec_id LIMIT 50),
       |iq_ex AS (SELECT c.vec_id, CAST(c.ccell AS BIGINT) AS cell, c.adc_dist,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> (v.q[j] - q.q[j]) * (v.q[j] - q.q[j]))) AS BIGINT) AS exact_dist
       |  FROM iq_cand c JOIN qv v ON v.vec_id = c.vec_id CROSS JOIN iq_q q)
       |SELECT vec_id, cell, adc_dist, exact_dist FROM iq_ex
       |ORDER BY exact_dist, vec_id LIMIT 10""".stripMargin

  /** The delete-sync oracle (whole-layout repair AND the per-cell
    * form — the two are bit-equal by contract): the refine algebra
    * with the deleted ids (`vec_id % 7 == 3`) removed from the
    * candidate and re-rank stages.
    */
  private lazy val AnnIvfPqRepairedOracle: String =
    s"WITH $AnnIvfPqCtes, " +
      """iq_cand AS (SELECT vec_id, ccell, adc_dist FROM iq_score
       |  WHERE vec_id % 7 <> 3 ORDER BY adc_dist, vec_id LIMIT 50),
       |iq_ex AS (SELECT c.vec_id, CAST(c.ccell AS BIGINT) AS cell, c.adc_dist,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> (v.q[j] - q.q[j]) * (v.q[j] - q.q[j]))) AS BIGINT) AS exact_dist
       |  FROM iq_cand c JOIN qv v ON v.vec_id = c.vec_id CROSS JOIN iq_q q)
       |SELECT vec_id, cell, adc_dist, exact_dist FROM iq_ex
       |ORDER BY exact_dist, vec_id LIMIT 10""".stripMargin

  /** The maintenance-orchestration oracle: after the delete tick the
    * layout serves exactly the surviving corpus — the plain ADC
    * top-10 with `vec_id % 7 == 3` removed (compaction/no-op ticks
    * move bytes, never values).
    */
  private lazy val AnnIvfPqMaintainOracle: String =
    s"WITH $AnnIvfPqCtes " +
      """SELECT vec_id, CAST(ccell AS BIGINT) AS cell, adc_dist FROM iq_score
       |WHERE vec_id % 7 <> 3
       |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin

  /** The bulk-retrieval oracle: the shared coarse+residual+PQ chain,
    * then PER QUERY (vec_id < 5) — probe cells by row_number over the
    * exact integer cell distances, per-(query, cell) residual ADC
    * tables, candidate scoring restricted to each query's probed
    * cells, and the 1-based (adc_dist, vec_id) rank — the multi-query
    * generalization of AnnIvfPqOracle's single-query tail.
    */
  private lazy val AnnIvfPqKnnCtes: String =
    s"$AnnIvfPqCtes, " +
      """kq AS (SELECT vec_id AS qid, q FROM qv WHERE vec_id < 5),
       |kpd AS (SELECT k.qid, c.cell,
       |    list_sum(list_transform(range(1, 65),
       |      j -> (k.q[j] - c.q[j]) * (k.q[j] - c.q[j]))) AS d
       |  FROM c2 c CROSS JOIN kq k),
       |kprobe AS (SELECT qid, cell FROM (
       |  SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY d, cell) AS rn
       |  FROM kpd) WHERE rn <= 2),
       |kres AS (SELECT p.qid, p.cell,
       |    list_transform(range(1, 65), j -> k.q[j] - c.q[j]) AS rq
       |  FROM kprobe p JOIN kq k USING (qid) JOIN c2 c USING (cell)),
       |ktbl AS (SELECT r.qid, r.cell AS ccell, pc.sub, pc.cell AS code,
       |    list_sum(list_transform(range(1, 17),
       |      j -> (r.rq[CAST(pc.sub * 16 + j AS INTEGER)] - pc.sq[j]) *
       |           (r.rq[CAST(pc.sub * 16 + j AS INTEGER)] - pc.sq[j]))) AS d
       |  FROM kres r CROSS JOIN pq_c2 pc),
       |kscore AS (SELECT t.qid, e.vec_id, max(v.ccell) AS ccell,
       |    CAST(sum(t.d) AS BIGINT) AS adc_dist
       |  FROM pq_enc e JOIN ivq v ON v.vec_id = e.vec_id
       |  JOIN ktbl t ON t.ccell = v.ccell AND t.sub = e.sub AND t.code = e.cell
       |  GROUP BY t.qid, e.vec_id),
       |krank AS (SELECT qid, vec_id, ccell, adc_dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
       |  FROM kscore)""".stripMargin

  private lazy val AnnIvfPqKnnOracle: String =
    s"WITH $AnnIvfPqKnnCtes " +
      """SELECT qid AS query_id, vec_id, CAST(ccell AS BIGINT) AS cell,
       |  adc_dist, CAST(rn AS BIGINT) AS rk
       |FROM krank WHERE rn <= 5 ORDER BY query_id, rk""".stripMargin

  /** The bulk-refined oracle: ADC top-10 candidates per query from
    * the shared chain, exact integer quantized L2 against each
    * query's own vector, per-query (exact_dist, id) rank, top-5.
    */
  private lazy val AnnIvfPqKnnRefinedOracle: String =
    s"WITH $AnnIvfPqKnnCtes, " +
      """kcand AS (SELECT qid, vec_id, ccell, adc_dist FROM krank WHERE rn <= 10),
       |kex AS (SELECT c.qid, c.vec_id, CAST(c.ccell AS BIGINT) AS cell,
       |    c.adc_dist,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> (v.q[j] - w.q[j]) * (v.q[j] - w.q[j]))) AS BIGINT) AS exact_dist
       |  FROM kcand c JOIN qv v ON v.vec_id = c.vec_id
       |  JOIN qv w ON w.vec_id = c.qid),
       |kfr AS (SELECT qid, vec_id, cell, adc_dist, exact_dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY exact_dist, vec_id) AS rn2
       |  FROM kex)
       |SELECT qid AS query_id, vec_id, cell, adc_dist, exact_dist,
       |  CAST(rn2 AS BIGINT) AS rk
       |FROM kfr WHERE rn2 <= 5 ORDER BY query_id, rk""".stripMargin

  /** Exact brute-force kNN over the quantized domain (matches
    * Similarity.exactQuantizedKnnJoin for queries vec_id < 5, k = 5):
    * assumes `qv` in scope (from [[QuantVecCtes]] or [[KMeansCtes]]),
    * ends with `xr(query_id, vec_id, exact_dist, rn)` PRE-limit.
    * Shared by q_ann_exact_knn and q_ann_recall.
    */
  private val ExactKnnCtes: String =
    """xq AS (SELECT vec_id AS query_id, q FROM qv
      |  WHERE vec_id < 5 AND q IS NOT NULL),
      |xd AS (SELECT k.query_id, v.vec_id,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> (v.q[j] - k.q[j]) * (v.q[j] - k.q[j]))) AS BIGINT) AS exact_dist
      |  FROM qv v CROSS JOIN xq k WHERE v.q IS NOT NULL),
      |xr AS (SELECT query_id, vec_id, exact_dist,
      |    row_number() OVER (PARTITION BY query_id ORDER BY exact_dist, vec_id) AS rn
      |  FROM xd)""".stripMargin

  /** BM25 scoring chain (matches TextFunctions.bm25TopDocs for query
    * terms join/window/stream, k1=1.2, b=0.75; constants written as
    * the same unfolded sums the Spark side constant-folds, e.g.
    * `(1.2 + 1.0)` not 2.2). Assumes `toks` in scope; ends with
    * `bm(doc_id, n_hits, score_nano)` PRE-limit. Shared by q_bm25 and
    * q_hybrid_search.
    */
  private val Bm25Ctes: String =
    """bex AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS tok FROM toks),
      |qtf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM bex
      |  WHERE tok IN ('join', 'window', 'stream') GROUP BY 1, 2, 3),
      |qdf AS (SELECT tok, count(*) AS df FROM qtf GROUP BY tok),
      |bst AS (SELECT (SELECT count(*) FROM documents) AS n,
      |               (SELECT sum(len(ws)) FROM toks) AS sdl),
      |bsc AS (SELECT doc_id,
      |  CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
      |    (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 +
      |      0.75 * dl / (sdl / CAST(n AS DOUBLE))))) * 1e9) AS BIGINT) AS s
      |  FROM qtf JOIN qdf USING (tok) CROSS JOIN bst),
      |bm AS (SELECT doc_id, count(*) AS n_hits, CAST(sum(s) AS BIGINT) AS score_nano
      |  FROM bsc GROUP BY doc_id)""".stripMargin

  /** DSIR hashed-ngram importance-weight chain (matches
    * Curation.dsirWeights with buckets = 65536 and the q_dsir target
    * predicate): unigram+bigram md5 hashes masked to 16 bits, add-1
    * smoothed target/raw log-ratio in nano-nats, summed per doc. The
    * target's features come from re-joining the raw feature table
    * against the predicate, which also proves both sides tokenize
    * identically. Ends with `wts(doc_id, n_feats, logw_nano)`.
    */
  /** Hashed-classifier oracle (en=pos, zh=neg, buckets=65536): the
    * DSIR log-ratio algebra with labeled classes; weights, per-doc
    * logit sums, and the `>= 0` mean-threshold keep decision all
    * integer-exact. Serves q_classifier_score AND q_stream_classifier
    * (the scan kernel is a pure projection — streamed rows score
    * identically).
    */
  private lazy val ClassifierScoreOracleSql: String =
    s"""WITH ${tokCte()},
       |fe AS (
       |  SELECT doc_id, md5_number_lower(unnest(ws)) & 65535 AS b FROM toks
       |  UNION ALL
       |  SELECT doc_id,
       |    md5_number_lower(unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i+1]))) & 65535 FROM toks),
       |pfe AS (SELECT b FROM fe JOIN documents USING (doc_id) WHERE lang = 'en'),
       |nfe AS (SELECT b FROM fe JOIN documents USING (doc_id) WHERE lang = 'zh'),
       |dcp AS (SELECT b, count(*) AS cp FROM pfe GROUP BY b),
       |dcn AS (SELECT b, count(*) AS cn FROM nfe GROUP BY b),
       |dtot AS (SELECT (SELECT count(*) FROM pfe) AS tp,
       |                (SELECT count(*) FROM nfe) AS tn),
       |wt AS (SELECT s.b,
       |  CAST(round(ln(((coalesce(cp, 0) + 1) / (tp + 65536.0)) /
       |                ((coalesce(cn, 0) + 1) / (tn + 65536.0))) * 1e9) AS BIGINT) AS wn
       |  FROM range(0, 65536) s(b)
       |  LEFT JOIN dcp USING (b) LEFT JOIN dcn USING (b) CROSS JOIN dtot),
       |sc AS (SELECT doc_id, count(*) AS n_feats,
       |  CAST(sum(wn) AS BIGINT) AS logit_nano
       |  FROM fe JOIN wt USING (b) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
       |  CAST(coalesce(logit_nano, 0) AS BIGINT) AS logit_nano,
       |  coalesce(n_feats, 0) > 0 AND coalesce(logit_nano, 0) >= 0 AS keep
       |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin

  private val DsirCtes: String =
    """rfe AS (
      |  SELECT doc_id, md5_number_lower(unnest(ws)) & 65535 AS b FROM toks
      |  UNION ALL
      |  SELECT doc_id,
      |    md5_number_lower(unnest(list_transform(range(1, len(ws)),
      |      i -> ws[i] || ' ' || ws[i+1]))) & 65535 FROM toks),
      |tfe AS (
      |  SELECT b FROM rfe JOIN documents USING (doc_id)
      |  WHERE lang = 'en' AND source IN ('src1', 'src2', 'src3')),
      |dcr AS (SELECT b, count(*) AS cr FROM rfe GROUP BY b),
      |dct AS (SELECT b, count(*) AS ct FROM tfe GROUP BY b),
      |dtot AS (SELECT (SELECT count(*) FROM rfe) AS tr,
      |                (SELECT count(*) FROM tfe) AS tt),
      |dlr AS (SELECT s.b,
      |  CAST(round(ln(((coalesce(ct, 0) + 1) / (tt + 65536.0)) /
      |                ((coalesce(cr, 0) + 1) / (tr + 65536.0))) * 1e9) AS BIGINT) AS lrn
      |  FROM range(0, 65536) s(b)
      |  LEFT JOIN dcr USING (b) LEFT JOIN dct USING (b) CROSS JOIN dtot),
      |wts AS (
      |  SELECT d.doc_id, CAST(coalesce(w.n_feats, 0) AS BIGINT) AS n_feats,
      |    CAST(coalesce(w.logw_nano, 0) AS BIGINT) AS logw_nano
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id, count(*) AS n_feats, CAST(sum(lrn) AS BIGINT) AS logw_nano
      |    FROM rfe JOIN dlr USING (b) GROUP BY doc_id) w USING (doc_id))""".stripMargin

  /** minhash LSH band keys + candidate pairs + estimated jaccard
    * (bands=8 of 8 lanes; 8-byte md5-lower-64 band keys exactly as
    * Dedup.lshBandKeys builds them — UBIGINT vs signed Long is
    * immaterial because the band key is only ever an equi-join key).
    */
  private val MinhashPairCtes: String =
    """bandk AS (
      |  SELECT doc_id, sig,
      |    md5_number_lower(CAST(b AS VARCHAR) || ':' ||
      |        list_aggregate(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS band
      |  FROM sig, range(0, 8) t(b)),
      |mh_cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b, a.sig AS sig_a, b2.sig AS sig_b
      |  FROM bandk a JOIN bandk b2 ON a.band = b2.band AND a.doc_id < b2.doc_id),
      |mh_est AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_filter(range(1, 65), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 64.0 AS est_jaccard
      |  FROM mh_cand)""".stripMargin

  /** Distinct word-3-gram shingle sets + exact pairwise Jaccard via
    * shingle-join (matches Dedup.ngramJaccardPairs; no stop-shingle
    * pruning fires at oracle scale).
    */
  private val JaccardCtes: String =
    """ds AS (SELECT doc_id,
      |  list_distinct(list_transform(shingles, s -> md5_number_lower(s))) AS hs FROM sh),
      |sz AS (SELECT doc_id, len(hs) AS n_sh FROM ds),
      |ex AS (SELECT doc_id, unnest(hs) AS s FROM ds),
      |jac AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS common
      |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |jacr AS (
      |  SELECT id_a, id_b,
      |    CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) AS jaccard
      |  FROM jac JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b)""".stripMargin

  /** DuckDB reconstruction of [[graft.functions.Multimodal.syntheticAssets]]
    * for n=120: blob-literal magic by modality || encoded repeated body
    * keyed on id mod 39.
    */
  private val AssetsCte: String =
    """assets AS (
      |  SELECT i AS asset_id,
      |    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |    (CASE i % 3 WHEN 0 THEN '\x89PNG\x0D\x0A\x1A\x0A'::BLOB
      |                WHEN 1 THEN 'ID3'::BLOB
      |                ELSE 'RIFF\x00\x00\x00\x00AVI '::BLOB END) ||
      |    encode(repeat('asset-' || CAST(i % 39 AS VARCHAR) || '|', 1 + (i % 39) % 4)) AS content
      |  FROM range(0, 120) t(i))""".stripMargin

  def oracleSql: Map[String, String] = {
    val oidLi = "CAST(l_orderkey*10 + l_linenumber AS BIGINT)"
    Map(
      "q_find_mql" ->
        s"""SELECT $oidLi AS _oid, l_quantity, l_extendedprice, l_returnflag, l_linestatus
           |FROM lineitem WHERE l_quantity > 40 AND l_returnflag = 'R'
           |ORDER BY _oid, l_quantity, l_extendedprice, l_returnflag, l_linestatus""".stripMargin,

      "q_find_fields" ->
        s"""SELECT l_quantity, l_returnflag, $AsOf AS _start,
           |  CAST(NULL AS DOUBLE) AS _end, $oidLi AS _oid
           |FROM lineitem WHERE l_linestatus = 'O' ORDER BY _oid, l_quantity, l_returnflag""".stripMargin,

      "q_find_in_notin" ->
        s"""SELECT $oidLi AS _oid, l_returnflag, l_quantity FROM lineitem
           |WHERE l_returnflag IN ('A','N') AND l_linestatus <> 'F' AND NOT (l_quantity < 10)
           |ORDER BY _oid, l_returnflag, l_quantity""".stripMargin,

      "q_find_sort_limit" ->
        """SELECT CAST(p_partkey AS BIGINT) AS _oid, p_retailprice FROM part
          |WHERE p_size >= 10 ORDER BY _oid DESC LIMIT 100""".stripMargin,

      "q_find_regex" ->
        """SELECT CAST(p_partkey AS BIGINT) AS _oid, p_name, p_type FROM part
          |WHERE regexp_matches(p_name, 'a.*o') AND regexp_matches(p_type, '(?i)BRASS|STEEL')
          |ORDER BY _oid""".stripMargin,

      "q_count_mql" ->
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity >= 30 AND l_discount < 0.05",

      "q_find_regex_neg" ->
        """SELECT CAST(p_partkey AS BIGINT) AS _oid, p_name FROM part
          |WHERE NOT regexp_matches(p_name, 'o') AND p_size < 4 ORDER BY _oid""".stripMargin,

      "q_find_regex_array" ->
        """SELECT CAST(l_orderkey AS BIGINT) AS _oid,
          |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_modes
          |FROM lineitem GROUP BY l_orderkey
          |HAVING bool_or(regexp_matches(l_linestatus, '^O'))
          |ORDER BY _oid""".stripMargin,

      "q_distinct_scalar" ->
        "SELECT DISTINCT l_returnflag AS flag FROM lineitem ORDER BY flag",

      "q_filter_where" ->
        s"""SELECT $oidLi AS _oid, l_quantity, l_returnflag, l_linestatus
           |FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'
           |ORDER BY _oid, l_quantity""".stripMargin,

      "q_execute_mql_sql" ->
        s"""SELECT $oidLi AS _oid, l_quantity, l_returnflag FROM lineitem
           |WHERE l_quantity > 45 AND l_returnflag IN ('A', 'N')
           |ORDER BY _oid, l_quantity, l_returnflag""".stripMargin,

      "q_distinct_array" ->
        "SELECT DISTINCT l_returnflag AS flag FROM lineitem ORDER BY flag",

      "q_find_array_any" ->
        """SELECT CAST(l_orderkey AS BIGINT) AS _oid,
          |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags
          |FROM lineitem GROUP BY l_orderkey
          |HAVING bool_or(l_returnflag = 'R') AND bool_or(l_returnflag IN ('A','N'))
          |ORDER BY _oid""".stripMargin,

      "q_find_array_empty" ->
        """SELECT CAST(l_orderkey AS BIGINT) AS _oid FROM lineitem
          |GROUP BY l_orderkey HAVING NOT bool_or(l_returnflag = 'R')
          |ORDER BY _oid""".stripMargin,

      "q_date_current" ->
        s"""$VEventsSql
           |SELECT _oid, _start, event_type, value FROM v WHERE _end IS NULL ORDER BY _oid""".stripMargin,

      "q_date_asof" -> {
        val d = ts("2024-01-15")
        s"""$VEventsSql
           |SELECT _oid, _start, _end, event_type, value FROM v
           |WHERE _start < $d AND (_end >= $d OR _end IS NULL)
           |ORDER BY _oid, _start""".stripMargin
      },

      "q_date_window" -> {
        val a = ts("2024-01-10"); val b = ts("2024-01-20")
        s"""$VEventsSql
           |SELECT _oid, _start, event_type FROM v
           |WHERE event_type <> 'error' AND _start < $b AND (_end >= $a OR _end IS NULL)
           |ORDER BY _oid, _start""".stripMargin
      },

      "q_date_before" ->
        s"""$VEventsSql
           |SELECT _oid, _start FROM v WHERE _start < ${ts("2024-01-05")}
           |ORDER BY _oid, _start""".stripMargin,

      "q_date_after" ->
        s"""$VEventsSql
           |SELECT _oid, _start FROM v WHERE _end >= ${ts("2024-01-25")} OR _end IS NULL
           |ORDER BY _oid, _start""".stripMargin,

      "q_on_date" -> {
        val d = ts("2024-01-15")
        s"""$VEventsSql
           |SELECT _oid, _start, event_type FROM v
           |WHERE _start <= $d AND (_end > $d OR _end IS NULL)
           |ORDER BY _oid, _start""".stripMargin
      },

      "q_history_counts" -> {
        val days = (2 to 29).map(d => s"(${ts(f"2024-01-$d%02d")})").mkString(", ")
        s"""$VEventsSql, grid(date) AS (SELECT * FROM (VALUES $days))
           |SELECT g.date, count(*) AS n FROM v JOIN grid g
           |  ON v._start <= g.date AND (v._end > g.date OR v._end IS NULL)
           |GROUP BY g.date ORDER BY g.date""".stripMargin
      },

      "q_history_maximum" -> {
        val a = ts("2024-01-10"); val b = ts("2024-01-10 06:00:00")
        s"""$VEventsSql, bounds AS (
           |  SELECT DISTINCT bd AS date FROM (
           |    SELECT _start AS bd FROM v
           |    UNION ALL SELECT _end FROM v WHERE _end IS NOT NULL)
           |  WHERE bd >= $a AND bd <= $b)
           |SELECT g.date, count(*) AS n FROM v JOIN bounds g
           |  ON v._start <= g.date AND (v._end > g.date OR v._end IS NULL)
           |GROUP BY g.date ORDER BY g.date""".stripMargin
      },

      "q_persistent_oids" -> {
        val days = (2 to 29 by 3).map(d => s"(${ts(f"2024-01-$d%02d")})").mkString(", ")
        s"""$VEventsSql, fs AS (SELECT _oid, min(_start) AS first_start FROM v GROUP BY _oid),
           |grid(date) AS (SELECT * FROM (VALUES $days))
           |SELECT g.date, count(DISTINCT fs._oid) AS n FROM fs JOIN grid g ON fs.first_start <= g.date
           |GROUP BY g.date ORDER BY g.date""".stripMargin
      },

      "q_last_version" ->
        s"""$VEventsSql
           |SELECT _oid, _start, event_type, value FROM (
           |  SELECT *, row_number() OVER (PARTITION BY _oid ORDER BY _start DESC) AS rn FROM v)
           |WHERE rn = 1 ORDER BY _oid""".stripMargin,

      "q_first_version" ->
        s"""$VEventsSql
           |SELECT _oid, _start, event_type, value FROM (
           |  SELECT *, row_number() OVER (PARTITION BY _oid ORDER BY _start ASC) AS rn FROM v)
           |WHERE rn = 1 ORDER BY _oid""".stripMargin,

      "q_versions_age" -> {
        val cut = ts("2024-02-01")
        s"""$VEventsSql
           |SELECT _oid, _start,
           |  least(coalesce(_end, $cut), $cut) - min_start AS age
           |FROM (
           |  SELECT *, row_number() OVER (PARTITION BY _oid ORDER BY _start DESC) AS rn,
           |         min(_start) OVER (PARTITION BY _oid) AS min_start FROM v)
           |WHERE rn = 1 ORDER BY _oid""".stripMargin
      },

      "q_started_after" ->
        s"""$VEventsSql
           |SELECT _oid, _start FROM (
           |  SELECT *, min(_start) OVER (PARTITION BY _oid) AS fs FROM v)
           |WHERE fs > ${ts("2024-01-01 12:00:00")} ORDER BY _oid, _start""".stripMargin,

      "q_unfinished" -> {
        val rb = ts("2024-01-20")
        s"""$VEventsSql, f AS (SELECT * FROM v WHERE _end IS NULL OR _end < $rb)
           |SELECT _oid, _start, event_type FROM (
           |  SELECT *, max(CASE WHEN _end IS NULL THEN 1 ELSE 0 END)
           |    OVER (PARTITION BY _oid) AS has_open FROM f)
           |WHERE has_open = 1 ORDER BY _oid, _start""".stripMargin
      },

      "q_last_chain" ->
        s"""$VEventsSql, f AS (SELECT * FROM v WHERE event_type <> 'error'),
           |g AS (SELECT *, CASE WHEN lag(_end) OVER w IS NULL THEN 0
           |                     WHEN lag(_end) OVER w = _start THEN 0 ELSE 1 END AS gap
           |      FROM f WINDOW w AS (PARTITION BY _oid ORDER BY _start)),
           |h AS (SELECT *, sum(gap) OVER (PARTITION BY _oid ORDER BY _start
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chain FROM g)
           |SELECT _oid, _start, event_type FROM h
           |WHERE chain = (SELECT max(chain) FROM h h2 WHERE h2._oid = h._oid)
           |ORDER BY _oid, _start""".stripMargin,

      "q_dfind" ->
        s"""$VEventsSql, d AS (
           |  SELECT _oid, _start,
           |    lag(_start) OVER w AS prev_start,
           |    lag(event_type) OVER w AS prev_et, event_type,
           |    lag(value) OVER w AS prev_v, value
           |  FROM v WINDOW w AS (PARTITION BY _oid ORDER BY _start))
           |SELECT _oid, _start, field, old_value, new_value FROM (
           |  SELECT _oid, _start, 'event_type' AS field,
           |    CAST(prev_et AS VARCHAR) AS old_value, CAST(event_type AS VARCHAR) AS new_value,
           |    prev_start, (prev_et IS DISTINCT FROM event_type) AS chg FROM d
           |  UNION ALL
           |  SELECT _oid, _start, 'value' AS field,
           |    CAST(prev_v AS VARCHAR), CAST(value AS VARCHAR),
           |    prev_start, (prev_v IS DISTINCT FROM value) FROM d)
           |WHERE prev_start IS NOT NULL AND chg
           |ORDER BY _oid, _start, field""".stripMargin,

      "q_upsert_scd2" -> {
        val cut = ts("2024-01-15")
        s"""WITH ve AS (
           |  SELECT CAST(user_id AS BIGINT) AS _oid,
           |         epoch_us(ts)/1e6 AS _start,
           |         lead(epoch_us(ts)/1e6) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS _end,
           |         event_type, value
           |  FROM events),
           |base AS (
           |  SELECT _oid, _start,
           |         CASE WHEN _end < $cut THEN _end END AS _end, event_type, value
           |  FROM ve WHERE _start < $cut),
           |inc AS (
           |  SELECT CAST(user_id AS BIGINT) AS _oid, epoch_us(ts)/1e6 AS _start,
           |         event_type, value
           |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |        FROM events) WHERE rn = 1),
           |curr AS (SELECT * FROM base WHERE _end IS NULL),
           |hist AS (SELECT * FROM base WHERE _end IS NOT NULL),
           |kept AS (
           |  SELECT c.* FROM curr c LEFT JOIN inc i ON c._oid = i._oid
           |  WHERE i._oid IS NULL OR (c.event_type = i.event_type AND c.value = i.value)),
           |rotated AS (
           |  SELECT c._oid, c._start, i._start AS _end, c.event_type, c.value
           |  FROM curr c JOIN inc i ON c._oid = i._oid
           |  WHERE NOT (c.event_type = i.event_type AND c.value = i.value)),
           |fresh AS (
           |  SELECT i._oid, i._start, CAST(NULL AS DOUBLE) AS _end, i.event_type, i.value
           |  FROM inc i WHERE NOT EXISTS (
           |    SELECT 1 FROM curr c WHERE c._oid = i._oid
           |      AND c.event_type = i.event_type AND c.value = i.value))
           |SELECT * FROM (
           |  SELECT * FROM hist UNION ALL SELECT * FROM kept
           |  UNION ALL SELECT * FROM rotated UNION ALL SELECT * FROM fresh)
           |ORDER BY _oid, _start""".stripMargin
      },

      // open events from _start >= t, close events from _end >= t —
      // the rotation pair falls out of the union
      "q_change_feed" -> {
        val cut = ts("2024-01-15")
        s"""$VEventsSql
           |SELECT _oid, change_op, change_at, event_type FROM (
           |  SELECT _oid, 'open' AS change_op, _start AS change_at, event_type
           |  FROM v WHERE _start >= $cut
           |  UNION ALL
           |  SELECT _oid, 'close' AS change_op, _end AS change_at, event_type
           |  FROM v WHERE _end IS NOT NULL AND _end >= $cut)
           |ORDER BY _oid, change_at, change_op, event_type""".stripMargin
      },

      "q_history_import" ->
        s"""$VEventsSql, repl AS (
           |  SELECT _oid, _start,
           |    lead(_start) OVER (PARTITION BY _oid ORDER BY _start) AS _end, event_type
           |  FROM v WHERE _oid < 5 AND event_type = 'purchase')
           |SELECT _oid, _start, _end, event_type FROM (
           |  SELECT _oid, _start, _end, event_type FROM v
           |  WHERE _oid NOT IN (SELECT DISTINCT _oid FROM repl)
           |  UNION ALL SELECT * FROM repl)
           |ORDER BY _oid, _start""".stripMargin,

      "q_deptree" ->
        """WITH RECURSIVE r(k) AS (
          |  SELECT * FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) t(k)
          |  UNION
          |  SELECT CAST(n.n_regionkey AS BIGINT) FROM nation n JOIN r ON n.n_nationkey = r.k)
          |SELECT k FROM r ORDER BY k""".stripMargin,

      "q_union_dedup" ->
        """SELECT o_orderstatus, count(*) AS n FROM orders
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          |  count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

      "q3_top_orders" ->
        """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

      "q5_nation_revenue" ->
        """SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin,

      "q_window_topn" ->
        """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
          |  CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk
          |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
          |        ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
          |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

      "q_histogram" ->
        """WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
          |           WHERE n_chars IS NOT NULL),
          |b AS (SELECT CASE WHEN v < 50.0 THEN -1
          |             WHEN v >= 500.0 THEN 9
          |             ELSE least(CAST(floor((v - 50.0) * 9 / 450.0) AS BIGINT), 8) END AS bin FROM v)
          |SELECT bin, count(*) AS n,
          |  CASE WHEN bin >= 0 AND bin < 9 THEN round(50.0 + bin * 450.0 / 9, 6) END AS lo_edge,
          |  CASE WHEN bin >= 0 AND bin < 9 THEN round(50.0 + (bin + 1) * 450.0 / 9, 6) END AS hi_edge
          |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

      "q_skew_report" ->
        """WITH keyed AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, count(*) AS n_keys FROM keyed),
          |top AS (SELECT *, row_number() OVER (ORDER BY n DESC, user_id) AS rk FROM keyed)
          |SELECT CAST(user_id AS BIGINT) AS user_id, n,
          |  round(CAST(n AS DOUBLE) / n_total, 6) AS frac,
          |  CAST(rk AS BIGINT) AS rk, n_total, n_keys
          |FROM top CROSS JOIN tot WHERE rk <= 10 ORDER BY rk""".stripMargin,

      "q_stream_enrich" ->
        """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts))/1e6 AS w_start,
          |  'seg' || CAST(user_id % 3 AS VARCHAR) AS segment, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY w_start, segment""".stripMargin,

      "q_rolling_window" ->
        """WITH e AS (
          |  SELECT CAST(user_id AS BIGINT) AS user_id, event_id, epoch_us(ts) AS us, value
          |  FROM events)
          |SELECT user_id, event_id, us,
          |  count(*) OVER w AS n_5m,
          |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_5m,
          |  max(value) OVER w AS max_5m
          |FROM e
          |WINDOW w AS (PARTITION BY user_id ORDER BY us
          |  RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, us, event_id""".stripMargin,

      "q_sessionize" ->
        """WITH e AS (
          |  SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts)/1e6 AS t, event_id, value
          |  FROM events),
          |g AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL THEN 1
          |                    WHEN t - lag(t) OVER w > 1800.0 THEN 1 ELSE 0 END AS gap
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
          |s AS (SELECT *, sum(gap) OVER (PARTITION BY user_id ORDER BY t, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session FROM g)
          |SELECT user_id, CAST(session AS BIGINT) AS session, min(t) AS session_start,
          |  count(*) AS n_events,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM s GROUP BY user_id, session ORDER BY user_id, session""".stripMargin,

      "q_token_counts" ->
        """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
          |  ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) END AS n_tokens
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_token_pack" ->
        """WITH tok AS (
          |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
          |    ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) END AS n_tokens
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |        sum(n_tokens) OVER (ORDER BY doc_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
          |      FROM tok)
          |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
          |  CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS pack_id,
          |  CAST(row_number() OVER (
          |    PARTITION BY (cum_tokens - n_tokens) // 2048 ORDER BY doc_id) AS BIGINT) AS pack_pos
          |FROM c ORDER BY doc_id""".stripMargin,

      "q_token_pack_length" ->
        """WITH tok AS (
          |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
          |    ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) END AS n_tokens
          |  FROM documents),
          |c AS (SELECT doc_id, n_tokens,
          |        sum(n_tokens) OVER (ORDER BY n_tokens, doc_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
          |      FROM tok)
          |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
          |  CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS pack_id,
          |  CAST(row_number() OVER (
          |    PARTITION BY (cum_tokens - n_tokens) // 2048 ORDER BY n_tokens, doc_id) AS BIGINT) AS pack_pos
          |FROM c ORDER BY doc_id""".stripMargin,

      "q_bpe_token_counts" ->
        """SELECT doc_id,
          |  CAST(list_sum(list_transform(
          |      list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0),
          |      x -> CAST(ceil(len(x) / 4.0) AS BIGINT))) AS BIGINT)
          |  + CAST(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_bpe
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_text_stats" ->
        """WITH t AS (
          |  SELECT doc_id, text,
          |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm,
          |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS toks
          |  FROM documents),
          |n AS (SELECT *, list_filter(string_split(norm, ' '), x -> len(x) > 0) AS ntoks FROM t)
          |SELECT doc_id,
          |  round(CASE WHEN length(text) = 0 THEN 0.0
          |    ELSE CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
          |  round(CASE WHEN len(toks) = 0 THEN 0.0
          |    ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / len(toks) END, 6) AS mean_word_len,
          |  round(CASE WHEN len(ntoks) = 0 THEN 0.0
          |    ELSE CAST(len(list_filter(ntoks, x -> list_contains(['the','a','an','and','or','not','of','to','in','on','for','with','is','are','was','were','be','it','this','that','as','at','by','from'], x))) AS DOUBLE) / len(ntoks) END, 6) AS stopword_ratio
          |FROM n ORDER BY doc_id""".stripMargin,

      "q_quality_score" ->
        s"""WITH $QualityCtes
           |SELECT doc_id, quality FROM q ORDER BY doc_id""".stripMargin,

      "q_keep_best" ->
        s"""WITH $QualityCtes,
           |j AS (
           |  SELECT d.lang, d.source, d.doc_id, q.quality,
           |    row_number() OVER (PARTITION BY d.lang, d.source
           |      ORDER BY q.quality DESC, d.doc_id) AS rn
           |  FROM documents d JOIN q USING (doc_id))
           |SELECT lang, source, doc_id, quality FROM j WHERE rn = 1
           |ORDER BY lang, source""".stripMargin,

      "q_lang_id" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    list_distinct(list_filter(string_split(
          |      trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')),
          |      ' '), x -> len(x) > 0)) AS toks
          |  FROM documents),
          |s AS (
          |  SELECT doc_id,
          |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein'])) AS h_de,
          |    len(list_intersect(toks, ['the','and','of','to','is','that','for','with'])) AS h_en,
          |    len(list_intersect(toks, ['el','la','los','las','es','que','para','una'])) AS h_es,
          |    len(list_intersect(toks, ['le','la','les','est','que','pour','dans','une'])) AS h_fr,
          |    len(list_intersect(toks, ['de5','shi4','bu4','le5','zai4','wo3','you3','he2'])) AS h_zh
          |  FROM t)
          |SELECT doc_id,
          |  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
          |       WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
          |       WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
          |       WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
          |       WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
          |       ELSE 'zh' END AS lang_pred
          |FROM s ORDER BY doc_id""".stripMargin,

      "q_dedup_exact" ->
        """SELECT doc_id, lang, source FROM (
          |  SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
          |  FROM documents)
          |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      "q_activity_import" ->
        """WITH v AS (
          |  SELECT CAST(user_id AS BIGINT) AS _oid, epoch_us(ts)/1e6 AS _start,
          |         event_type, CAST(value AS VARCHAR) AS value
          |  FROM events),
          |o AS (SELECT *, lag(event_type) OVER w AS pet, lag(value) OVER w AS pv
          |      FROM v WINDOW w AS (PARTITION BY _oid ORDER BY _start)),
          |d AS (SELECT _oid, _start, event_type, value FROM o
          |      WHERE pet IS NULL OR NOT (event_type = pet AND value = pv))
          |SELECT _oid, _start,
          |  lead(_start) OVER (PARTITION BY _oid ORDER BY _start) AS _end,
          |  event_type, value
          |FROM d ORDER BY _oid, _start""".stripMargin,

      "q_delta_oids" -> {
        val since = ts("1997-06-01")
        s"""SELECT id FROM (
           |  SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders
           |  WHERE o_orderkey > (SELECT max(o_orderkey) FROM orders WHERE o_orderkey <= 10000)
           |  UNION
           |  SELECT CAST(o_orderkey AS BIGINT) FROM orders
           |  WHERE epoch_us(o_orderdate)/1e6 >= $since)
           |ORDER BY id""".stripMargin
      },

      "q_resync_missed" ->
        """SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS id FROM orders
          |WHERE o_orderkey % 3 = 0 ORDER BY id""".stripMargin,

      "q_salted_agg" ->
        """SELECT event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q_stream_window" ->
        """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts))/1e6 AS w_start,
          |  event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

      // single-batch AvailableNow => no late rows => the stream-stream
      // interval join equals the batch interval join
      "q_stream_join" ->
        """SELECT CAST(a.user_id AS BIGINT) AS user_id,
          |  CAST(a.event_id AS BIGINT) AS click_id,
          |  CAST(b.event_id AS BIGINT) AS buy_id,
          |  CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
          |FROM events a JOIN events b
          |  ON a.user_id = b.user_id
          | AND a.event_type = 'click' AND b.event_type = 'purchase'
          | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
          |ORDER BY user_id, click_id, buy_id""".stripMargin,

      "q_stream_sessionize" ->
        """WITH e AS (
          |  SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts)/1e6 AS t, event_id
          |  FROM events),
          |g AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL THEN 1
          |                    WHEN t - lag(t) OVER w > 1800.0 THEN 1 ELSE 0 END AS gap
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
          |s AS (SELECT *, sum(gap) OVER (PARTITION BY user_id ORDER BY t, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session FROM g),
          |sess AS (SELECT user_id, session, min(t) AS session_start, max(t) AS session_end,
          |           count(*) AS n_events
          |         FROM s GROUP BY 1, 2),
          |um AS (SELECT user_id, max(t) AS umax FROM e GROUP BY 1),
          |mx AS (SELECT max(t) AS mt FROM e)
          |SELECT user_id, session_start, session_end, n_events
          |FROM sess JOIN um USING (user_id) CROSS JOIN mx
          |WHERE session_end <= mt - 3700.0 OR session_end < umax
          |ORDER BY user_id, session_start""".stripMargin,

      "q_distinct_count" ->
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      "q_prep_pipeline" ->
        """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
          |  CAST(p_size AS BIGINT) AS p_size,
          |  lower(trim(p_type)) AS p_type,
          |  CAST(length(lower(trim(p_type))) AS BIGINT) AS type_len,
          |  p_retailprice
          |FROM part ORDER BY p_partkey""".stripMargin,

      "q_deptree_array" ->
        """WITH RECURSIVE tree AS (
          |  SELECT CAST(n_regionkey AS BIGINT) AS rk,
          |         list_sort(list(CAST(n_nationkey AS BIGINT) + 100)) AS children
          |  FROM nation GROUP BY 1
          |  UNION ALL
          |  SELECT CAST(n_nationkey AS BIGINT) + 100, [] FROM nation),
          |r(k) AS (
          |  SELECT * FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) t(k)
          |  UNION
          |  SELECT unnest(t.children) FROM tree t JOIN r ON t.rk = r.k)
          |SELECT k FROM r ORDER BY k""".stripMargin,

      "q_incremental_store" ->
        """WITH e AS (
          |  SELECT CAST(user_id AS BIGINT) AS _oid, epoch_us(ts)/1e6 AS t, event_id,
          |         event_type, value
          |  FROM events),
          |f AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY _oid ORDER BY t, event_id) AS rn
          |      FROM e) WHERE rn = 1),
          |l AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY _oid ORDER BY t DESC, event_id DESC) AS rn
          |      FROM e) WHERE rn = 1),
          |j AS (SELECT f._oid, f.t AS ft, f.event_type AS fe, f.value AS fv,
          |             l.t AS lt, l.event_type AS le, l.value AS lv
          |      FROM f JOIN l USING (_oid)),
          |chg AS (SELECT * FROM j WHERE fe <> le OR fv <> lv)
          |SELECT _oid, _start, _end, event_type, value FROM (
          |  SELECT _oid, ft AS _start, lt AS _end, fe AS event_type, fv AS value FROM chg
          |  UNION ALL
          |  SELECT _oid, lt, CAST(NULL AS DOUBLE), le, lv FROM chg
          |  UNION ALL
          |  SELECT _oid, ft, CAST(NULL AS DOUBLE), fe, fv FROM j
          |  WHERE NOT (fe <> le OR fv <> lv))
          |ORDER BY _oid, _start""".stripMargin,

      "q_persist_roundtrip" ->
        s"""$VEventsSql
           |SELECT _oid, _start, event_type, value FROM v WHERE _end IS NULL ORDER BY _oid, _start""".stripMargin,

      "q_zorder_scan" ->
        """SELECT event_id, epoch_us(ts)/1e6 AS t, CAST(user_id AS BIGINT) AS user_id,
          |       event_type, value
          |FROM events
          |WHERE epoch_us(ts)/1e6 < (SELECT min(epoch_us(ts)/1e6) + 43200.0 FROM events)
          |  AND user_id < 500
          |ORDER BY event_id, t, user_id, event_type, value""".stripMargin,

      "q_asof_join" ->
        """WITH base AS (
          |  SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
          |         epoch_us(ts)/1e6 AS t, event_type, value
          |  FROM events),
          |errors AS (SELECT event_id, user_id, t FROM base WHERE event_type = 'error'),
          |states AS (SELECT user_id AS uid, t AS st, event_type AS state_type,
          |                  value AS state_value
          |           FROM base WHERE event_type <> 'error')
          |SELECT e.event_id, e.user_id, e.t, s.state_type, s.state_value
          |FROM errors e ASOF LEFT JOIN states s
          |  ON e.user_id = s.uid AND s.st <= e.t
          |ORDER BY e.event_id""".stripMargin,

      "q_trim_outliers" ->
        """WITH e AS (SELECT event_id, event_type, value*value*value AS v3 FROM events),
          |f AS (SELECT event_type, quantile_cont(v3, 0.25) AS q1,
          |             quantile_cont(v3, 0.75) AS q3 FROM e GROUP BY 1)
          |SELECT e.event_type, e.event_id, round(e.v3, 6) AS v3,
          |  round(f.q1, 4) AS q1, round(f.q3, 4) AS q3
          |FROM e JOIN f USING (event_type)
          |WHERE e.v3 >= f.q1 - 0.5*(f.q3 - f.q1) AND e.v3 <= f.q3 + 0.5*(f.q3 - f.q1)
          |ORDER BY event_type, event_id""".stripMargin,

      "q_quantiles" ->
        """SELECT l_returnflag,
          |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
          |  round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
          |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

      "q_stream_upsert" ->
        """WITH e AS (
          |  SELECT CAST(user_id AS BIGINT) AS _oid, epoch_us(ts)/1e6 AS _start,
          |         event_type, value,
          |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
          |  FROM events)
          |SELECT _oid, _start, event_type, value FROM e WHERE rn = 1
          |ORDER BY _oid, _start""".stripMargin,

      "q_dedup_groups" ->
        """SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS keep_id
          |FROM documents GROUP BY text HAVING count(*) > 1 ORDER BY keep_id""".stripMargin,

      "q_embed_topk" ->
        s"""WITH $EmbCte, q AS (SELECT v AS qv FROM d WHERE vec_id = 0)
           |SELECT vec_id, round(${sqlCos("v", "qv")}, 6) AS score
           |FROM d, q ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

      "q_embed_quantized" ->
        s"""WITH $EmbCte,
           |s AS (SELECT vec_id, v,
           |  greatest(list_max(list_transform(v, x -> abs(x))), 2.2250738585072014e-308) / 127.0 AS scale
           |  FROM d),
           |dq AS (SELECT vec_id,
           |  list_transform(v, x -> CAST(CAST(CAST(round(x / scale) AS TINYINT) * scale AS FLOAT) AS DOUBLE)) AS v
           |  FROM s),
           |q AS (SELECT v AS qv FROM dq WHERE vec_id = 0)
           |SELECT vec_id, round(${sqlCos("v", "qv")}, 3) AS approx_score
           |FROM dq, q ORDER BY approx_score DESC, vec_id LIMIT 20""".stripMargin,

      "q_embed_pairs" ->
        s"""WITH $EmbCte,
           |bands AS (SELECT vec_id, v, b, ${sqlLshBand("v", "b * 4", "4")} AS bv
           |          FROM d, range(0, 16) t(b)),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
           |         FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv AND a.vec_id < c.vec_id),
           |sc AS (SELECT id_a, id_b, round(${sqlCos("da.v", "db.v")}, 6) AS cos
           |       FROM cand JOIN d da ON da.vec_id = id_a JOIN d db ON db.vec_id = id_b)
           |SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,

      // Same band family as q_embed_pairs, but candidates in BOTH
      // directions and a per-id top-k on the rounded cosine. The
      // bucket cap (maxBucketSize=10000) is replicated so the gate
      // stays value-exact even when the cap fires.
      "q_knn_join" ->
        s"""WITH $EmbCte,
           |bands AS (SELECT vec_id, v, b, ${sqlLshBand("v", "b * 4", "4")} AS bv
           |          FROM d, range(0, 16) t(b)),
           |ok AS (SELECT b, bv FROM bands GROUP BY b, bv HAVING count(*) <= 10000),
           |bc AS (SELECT bands.* FROM bands JOIN ok USING (b, bv)),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
           |         FROM bc a JOIN bc c ON a.b = c.b AND a.bv = c.bv AND a.vec_id <> c.vec_id),
           |sc AS (SELECT id_a, id_b, round(${sqlCos("da.v", "db.v")}, 6) AS cos
           |       FROM cand JOIN d da ON da.vec_id = id_a JOIN d db ON db.vec_id = id_b),
           |rnk AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rk
           |        FROM sc)
           |SELECT id_a AS vec_id, id_b AS neighbor_id, cos, CAST(rk AS BIGINT) AS rk
           |FROM rnk WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin,

      // The auto-width twin: band width re-derived from count(*) with
      // the same ceil(log2(n/32)) clamp [1,24] knnJoin's autoBandBits
      // applies, so this stays value-exact at any SF (the widths are
      // never near an exact power-of-two boundary where double log
      // rounding could diverge: 500→4, 2000→6).
      "q_knn_join_auto" ->
        s"""WITH $EmbCte,
           |nb AS (SELECT least(24, greatest(1,
           |         CAST(ceil(log2(count(*) / 32.0)) AS INT))) AS bits FROM d),
           |bands AS (SELECT vec_id, v, b, ${sqlLshBand("v", "b * bits", "bits")} AS bv
           |          FROM d, nb, range(0, 16) t(b)),
           |ok AS (SELECT b, bv FROM bands GROUP BY b, bv HAVING count(*) <= 10000),
           |bc AS (SELECT bands.* FROM bands JOIN ok USING (b, bv)),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
           |         FROM bc a JOIN bc c ON a.b = c.b AND a.bv = c.bv AND a.vec_id <> c.vec_id),
           |sc AS (SELECT id_a, id_b, round(${sqlCos("da.v", "db.v")}, 6) AS cos
           |       FROM cand JOIN d da ON da.vec_id = id_a JOIN d db ON db.vec_id = id_b),
           |rnk AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rk
           |        FROM sc)
           |SELECT id_a AS vec_id, id_b AS neighbor_id, cos, CAST(rk AS BIGINT) AS rk
           |FROM rnk WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,

      "q_random_project" -> {
        def dim(plane: Int): String =
          s"""list_reduce(list_transform(range(0, 64), j -> v[j+1] * ${sqlPlaneSign(plane.toString, "j")}), (x, y) -> x + y) / sqrt(4.0)"""
        s"""WITH $EmbCte
           |SELECT vec_id, ${dim(128)} AS p0, ${dim(129)} AS p1,
           |  ${dim(130)} AS p2, ${dim(131)} AS p3
           |FROM d ORDER BY vec_id""".stripMargin
      },

      "q_ann_lsh" ->
        s"""WITH $EmbCte,
           |b AS (SELECT vec_id, v, ${sqlLshBand("v", "0", "16")} AS bucket FROM d),
           |qv AS (SELECT v AS q, bucket AS qb FROM b WHERE vec_id = 0),
           |probes AS (SELECT DISTINCT unnest([qb] ||
           |  list_transform(range(0, 16), i -> xor(qb, CAST(1 << i AS BIGINT)))) AS pb FROM qv),
           |c AS (SELECT b.vec_id, b.v, qv.q FROM b JOIN probes ON b.bucket = probes.pb CROSS JOIN qv)
           |SELECT vec_id, round(${sqlCos("v", "q")}, 6) AS score
           |FROM c ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

      // quality gate: every probe query must clear the recall@10 floor
      // vs brute force (see the q_ann_ivf query comment for the
      // data-driven bar) — Spark computes the recall, the oracle pins
      // the expectation to `true` per query
      "q_ann_ivf" ->
        """SELECT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

      "q_minhash_pairs" ->
        s"""WITH ${tokCte()}, $ShingleCtes, $SigCte, $MinhashPairCtes
           |SELECT id_a, id_b, est_jaccard FROM mh_est
           |WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      "q_simhash" ->
        s"""WITH ${tokCte()}, $SimhashCtes
           |SELECT doc_id, simhash FROM shs ORDER BY doc_id""".stripMargin,

      "q_simhash_pairs" ->
        s"""WITH ${tokCte()}, $SimhashCtes, $SimhashPairCtes
           |SELECT id_a, id_b, hamming FROM shpairs
           |ORDER BY id_a, id_b""".stripMargin,

      // pairs -> transitive closure -> min-label representative per
      // cluster; survivors = docs that are their own representative
      "q_simhash_dedup" ->
        s"""WITH RECURSIVE ${tokCte()}, $SimhashCtes, $SimhashPairCtes,
           |sedges AS (SELECT id_a AS u, id_b AS v FROM shpairs),
           |ssym AS (SELECT u, v FROM sedges UNION SELECT v, u FROM sedges),
           |sreach(id, r) AS (
           |  SELECT DISTINCT u, u FROM ssym
           |  UNION
           |  SELECT s.u, sreach.r FROM ssym s JOIN sreach ON s.v = sreach.id)
           |SELECT d.doc_id FROM documents d
           |WHERE d.doc_id NOT IN (
           |  SELECT id FROM (SELECT id, min(r) AS component FROM sreach GROUP BY id)
           |  WHERE id <> component)
           |ORDER BY d.doc_id""".stripMargin,

      "q_fingerprint" ->
        s"""WITH n AS (
           |  SELECT doc_id,
           |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
           |  FROM documents),
           |${tokCte()}, $ShingleCtes
           |SELECT n.doc_id,
           |  CAST(CASE WHEN md5_number_lower(norm) >= 9223372036854775808
           |    THEN CAST(md5_number_lower(norm) AS HUGEINT) - 18446744073709551616
           |    ELSE CAST(md5_number_lower(norm) AS HUGEINT) END AS BIGINT) AS fp,
           |  list_min(list_transform(bh.hs,
           |    h -> ((2654435761 % 2147483647) * h + 40503 % 2147483647) % 2147483647)) AS shingle_fp
           |FROM n JOIN bh ON n.doc_id = bh.doc_id ORDER BY n.doc_id""".stripMargin,

      // the semantic sibling: the shared quantized domain, one cross
      // join against the 5-row eval side, exact integer L2 range
      // filter (corpus = vec_id >= 5, eval = vec_id < 5, nulls out)
      "q_semantic_contamination" ->
        (s"WITH $QuantVecCtes, " +
          """se AS (SELECT vec_id AS eval_id, q FROM qv
           |  WHERE vec_id < 5 AND q IS NOT NULL),
           |scp AS (SELECT vec_id AS corpus_id, q FROM qv
           |  WHERE vec_id >= 5 AND q IS NOT NULL),
           |sd AS (SELECT c.corpus_id, e.eval_id,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      j -> (c.q[j] - e.q[j]) * (c.q[j] - e.q[j]))) AS BIGINT) AS exact_dist
           |  FROM scp c CROSS JOIN se e)
           |SELECT corpus_id, eval_id, exact_dist FROM sd
           |WHERE exact_dist <= 80000 ORDER BY corpus_id, eval_id""".stripMargin),

      "q_contamination" ->
        s"""WITH ${tokCte()},
           |sh5 AS (
           |  SELECT doc_id, CASE WHEN len(ws) <= 5
           |    THEN [coalesce(list_aggregate(ws, 'string_agg', ' '), '')]
           |    ELSE list_transform(range(1, len(ws) - 3),
           |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
           |  END AS shingles FROM toks),
           |dsh AS (SELECT doc_id,
           |  unnest(list_distinct(list_transform(shingles, s -> md5_number_lower(s)))) AS sh
           |  FROM sh5),
           |ev AS (SELECT doc_id AS eval_id, sh FROM dsh WHERE doc_id % 50 = 0),
           |co AS (SELECT doc_id AS corpus_id, sh FROM dsh WHERE doc_id % 50 <> 0)
           |SELECT corpus_id, eval_id, count(*) AS n_shared
           |FROM co JOIN ev USING (sh) GROUP BY 1, 2 HAVING count(*) >= 3
           |ORDER BY corpus_id, eval_id""".stripMargin,

      "q_bottomk_sample" ->
        """WITH b AS (
          |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT, doc_id) AS rn
          |  FROM documents)
          |SELECT lang, doc_id FROM b WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin,

      "q_scrub_pii" -> {
        val url = "https?://[^\\s]+"
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
        s"""WITH w AS (
           |  SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via http://site' ||
           |    CAST(doc_id AS VARCHAR) || '.test/page or 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.1 end' AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$url')) AS BIGINT) AS n_urls,
           |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text,
           |    '$url', '<URL>', 'g'), '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g')) AS scrubbed_md5
           |FROM w ORDER BY doc_id""".stripMargin
      },

      "q_repetition" ->
        s"""WITH ${tokCte()}, $ShingleCtes
           |SELECT doc_id,
           |  round(1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE) / len(shingles), 6) AS rep_ratio
           |FROM sh ORDER BY doc_id""".stripMargin,

      "q_ngram_jaccard" ->
        s"""WITH ${tokCte("WHERE doc_id < 500")}, $ShingleCtes, $JaccardCtes
           |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM jacr
           |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin,

      "q_dedup_two_stage" ->
        s"""WITH ${tokCte()}, $ShingleCtes, $SigCte, $MinhashPairCtes, $JaccardCtes
           |SELECT j.id_a, j.id_b, round(j.jaccard, 6) AS jaccard
           |FROM jacr j JOIN (SELECT id_a, id_b FROM mh_est WHERE est_jaccard >= 0.5) c
           |  ON j.id_a = c.id_a AND j.id_b = c.id_b
           |WHERE j.jaccard >= 0.8 ORDER BY j.id_a, j.id_b""".stripMargin,

      "q_multimodal_features" ->
        s"""WITH $AssetsCte,
           |b AS (SELECT asset_id, modality, hex(content) AS hx,
           |        octet_length(content) AS len FROM assets),
           |s AS (SELECT asset_id, modality,
           |    list_sum(list_transform(range(0, (len + 7) // 8),
           |      t -> ('0x' || substr(hx, CAST(1 + t*16 AS BIGINT), 2))::BIGINT)) AS s0
           |  FROM b)
           |SELECT CAST(asset_id AS BIGINT) AS asset_id, modality,
           |  round(CAST(s0 AS DOUBLE) / 256.0, 5) AS f0, CAST(8 AS BIGINT) AS dim
           |FROM s ORDER BY asset_id""".stripMargin,

      "q_frame_plan" ->
        """WITH v AS (SELECT i AS asset_id, 1000 * (i % 10 + 1) AS duration_ms
          |           FROM range(0, 120) t(i) WHERE i % 3 = 2),
          |f AS (SELECT asset_id, unnest(range(0, least(8, duration_ms // 500 + 1))) AS frame_idx
          |      FROM v)
          |SELECT CAST(asset_id AS BIGINT) AS asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
          |  CAST(frame_idx * 500 AS BIGINT) AS ts_ms
          |FROM f ORDER BY asset_id, frame_idx""".stripMargin,

      // the oracle knows only the fixture's id ARITHMETIC — matching
      // values prove the engine parsed the real byte layouts
      "q_media_meta" ->
        """WITH m AS (SELECT i AS asset_id, i % 4 AS k,
          |    100 + i % 37 AS w, 50 + i % 23 AS h,
          |    1 + i % 2 AS ch, 8000 + 1000 * (i % 5) AS rate,
          |    8 + 8 * (i % 2) AS bits, 1000 + i % 500 AS ndata
          |  FROM range(0, 200) t(i))
          |SELECT CAST(asset_id AS BIGINT) AS asset_id,
          |  CASE k WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
          |         WHEN 2 THEN 'image/jpeg' ELSE 'audio/x-wav' END AS mime_sniffed,
          |  CAST(CASE WHEN k <= 2 THEN w ELSE -1 END AS INTEGER) AS width,
          |  CAST(CASE WHEN k <= 2 THEN h ELSE -1 END AS INTEGER) AS height,
          |  CAST(CASE WHEN k = 3 THEN ch ELSE -1 END AS INTEGER) AS channels,
          |  CAST(CASE WHEN k = 3 THEN rate ELSE -1 END AS INTEGER) AS sample_rate_hz,
          |  CAST(CASE WHEN k = 3 THEN bits ELSE -1 END AS INTEGER) AS bits,
          |  CAST(CASE WHEN k = 3
          |    THEN ndata * 1000 // (rate * ch * bits // 8) ELSE -1 END AS BIGINT) AS duration_ms
          |FROM m ORDER BY asset_id""".stripMargin,

      "q_binary_dedup" ->
        s"""WITH $AssetsCte,
           |g AS (SELECT sha256(hex(content)) AS content_sha,
           |        CASE modality WHEN 'image' THEN 'image/png'
           |                      WHEN 'audio' THEN 'audio/mpeg'
           |                      ELSE 'video/x-msvideo' END AS mime_sniffed,
           |        count(*) AS n_dups, min(asset_id) AS keep_id
           |      FROM assets GROUP BY 1, 2)
           |SELECT content_sha, mime_sniffed, n_dups, CAST(keep_id AS BIGINT) AS keep_id
           |FROM g WHERE n_dups > 1 ORDER BY keep_id""".stripMargin,

      "q_hash_split" ->
        """WITH b AS (
          |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
          |         % 1000000 AS bucket
          |  FROM documents)
          |SELECT CASE WHEN bucket < 900000 THEN 0 WHEN bucket < 950000 THEN 1 ELSE 2 END AS split,
          |       count(*) AS n
          |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

      "q_hll_distinct" ->
        """SELECT lang, count(DISTINCT doc_id) AS n_exact, true AS within_tol
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      // Re-parses the recorded rpm queryformat lines from the fixture
      // parquet: 1-based list indexing after a chr(1) split, with rpm's
      // "(none)" sentinel nulled exactly like the Spark parse.
      "q_rpm_parse" ->
        s"""WITH raw AS (
           |  SELECT line FROM read_parquet('${graft.etl.OsInfoSource.FixturePath}/*.parquet')),
           |p AS (SELECT string_split(line, chr(1)) AS f FROM raw WHERE length(line) > 0)
           |SELECT 'host1__' || f[5] AS _oid,
           |  nullif(f[1], '(none)') AS name,
           |  nullif(f[2], '(none)') AS version,
           |  nullif(f[3], '(none)') AS release,
           |  nullif(f[4], '(none)') AS arch,
           |  nullif(f[6], '(none)') AS license
           |FROM p ORDER BY _oid""".stripMargin,

      "q_csv_load" ->
        """SELECT CAST(n_nationkey AS BIGINT) AS _oid, n_name,
          |  CAST(n_regionkey AS BIGINT) AS n_regionkey
          |FROM read_csv('/tmp/graft_fixtures/nation_csv/*.csv', header=true)
          |ORDER BY _oid""".stripMargin,

      "q_json_load" ->
        """SELECT CAST(n_nationkey AS BIGINT) AS _oid, n_name,
          |  CAST(n_regionkey AS BIGINT) AS n_regionkey
          |FROM read_json_auto('/tmp/graft_fixtures/nation_json/nation.json')
          |ORDER BY _oid""".stripMargin,

      "q_json_index" ->
        """WITH j AS (SELECT content FROM read_text('/tmp/graft_fixtures/orient_index.json')),
          |k AS (SELECT unnest(json_keys(content)) AS _oid, content FROM j)
          |SELECT _oid, json_extract_string(content, '$.' || _oid || '.color') AS color,
          |  CAST(json_extract(content, '$.' || _oid || '.size') AS BIGINT) AS size
          |FROM k ORDER BY _oid""".stripMargin,

      // The oracle reads the ORIGINAL parquet — equality proves the
      // parquet → Derby → partitioned-JDBC-read loop is lossless.
      "q_jdbc_extract" ->
        """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
          |  CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
          |FROM supplier ORDER BY s_suppkey""".stripMargin,

      "q_execute_sql" ->
        """SELECT l_returnflag AS flag, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin,

      "q_file_dispatch" ->
        """SELECT CAST(c.n_nationkey AS BIGINT) AS _oid,
          |  c.n_name AS name_csv, p.n_name AS name_parquet
          |FROM read_csv('/tmp/graft_fixtures/dispatch_csv/*.csv', header=true) c
          |JOIN read_parquet('/tmp/graft_fixtures/dispatch_parquet/*.parquet') p
          |  ON c.n_nationkey = p.n_nationkey
          |ORDER BY _oid""".stripMargin,

      "q_insert_sink" ->
        """SELECT l_returnflag AS flag, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin,

      "q_jdbc_batched" ->
        """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
          |  CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
          |FROM supplier ORDER BY s_suppkey""".stripMargin,

      "q_http_fetch" ->
        """SELECT CAST(r_regionkey AS BIGINT) AS _oid, r_name
          |FROM read_csv('/tmp/graft_fixtures/fetch_csv/*.csv', header=true)
          |ORDER BY _oid""".stripMargin,

      "q_object_apply" ->
        s"""$VEventsSql,
           |c AS (SELECT _oid, _start, event_type, value,
           |        count(*) OVER (PARTITION BY _oid) AS n FROM v)
           |SELECT _oid, _start, event_type, value FROM c WHERE n >= 4
           |ORDER BY _oid, _start, event_type, value""".stripMargin,

      "q_filter_oids" ->
        s"""$VEventsSql
           |SELECT _oid, _start, event_type FROM v
           |WHERE _oid BETWEEN 1 AND 40
           |ORDER BY _oid, _start, event_type""".stripMargin,

      "q_bounds_ondate" -> {
        val d = ts("2024-01-10")
        s"""$VEventsSql
           |SELECT _oid, _start, event_type FROM v
           |WHERE _start <= $d AND (_end > $d OR _end IS NULL)
           |ORDER BY _oid, _start, event_type""".stripMargin
      },

      // trunc (not round): replicates Spark timestamp_seconds' .toLong
      "q_epoch_view" ->
        s"""$VEventsSql
           |SELECT _oid, _start,
           |  strftime(make_timestamp(CAST(trunc(_start * 1e6) AS BIGINT)),
           |           '%Y-%m-%d %H:%M:%S.%f') AS start_str
           |FROM v ORDER BY _oid, _start""".stripMargin,

      "q_stream_dedup" ->
        """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type
          |FROM events ORDER BY user_id, event_type""".stripMargin,

      // Anchor-quantized semantic dedup: bottom-16 md5 anchors,
      // argmax-cosine assignment, tau-edges within cluster, recursive
      // component closure — every stage bit-replicated.
      "q_semantic_dedup" ->
        s"""WITH RECURSIVE $EmbCte,
           |anch AS (SELECT vec_id AS aid, v AS av FROM d
           |  ORDER BY md5_number_lower(CAST(vec_id AS VARCHAR) || ':anchor') % 2147483647, vec_id
           |  LIMIT 16),
           |sc AS (SELECT d.vec_id, d.v, a.aid, ${sqlCos("d.v", "a.av")} AS cs
           |       FROM d CROSS JOIN anch a),
           |asg AS (SELECT vec_id, v, aid AS cluster FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, aid) AS rn
           |  FROM sc) WHERE rn = 1),
           |cs2 AS (SELECT cluster, count(*) AS csize FROM asg GROUP BY cluster),
           |bnd AS (SELECT a.* FROM asg a JOIN cs2 USING (cluster) WHERE csize <= 40),
           |edges AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM bnd x JOIN bnd y
           |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
           |  WHERE ${sqlCos("x.v", "y.v")} >= 0.35),
           |sym AS (SELECT id_a AS u, id_b AS v2 FROM edges UNION SELECT id_b, id_a FROM edges),
           |reach(id, r) AS (
           |  SELECT DISTINCT u, u FROM sym
           |  UNION
           |  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v2 = reach.id),
           |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
           |SELECT a.vec_id, a.cluster, coalesce(c.component, a.vec_id) AS canon,
           |  (coalesce(c.component, a.vec_id) = a.vec_id) AS kept,
           |  (cs2.csize > 40) AS exempted
           |FROM asg a LEFT JOIN comp c ON c.id = a.vec_id
           |JOIN cs2 ON cs2.cluster = a.cluster ORDER BY a.vec_id""".stripMargin,

      // Two-level twin of q_semantic_dedup: hot cells (csize > 150 at
      // k=2) re-partitioned once with ceil(4*csize/150) ':anchor2'
      // sub-anchors; ok level-1 and ok sub-cell edges union before the
      // component closure; exempted only where a sub-cell is STILL
      // over cap (zero here — the gate proves the recovery empties it).
      "q_semantic_recluster" ->
        s"""WITH RECURSIVE $EmbCte,
           |anch AS (SELECT vec_id AS aid, v AS av FROM d
           |  ORDER BY md5_number_lower(CAST(vec_id AS VARCHAR) || ':anchor') % 2147483647, vec_id
           |  LIMIT 2),
           |sc AS (SELECT d.vec_id, d.v, a.aid, ${sqlCos("d.v", "a.av")} AS cs
           |       FROM d CROSS JOIN anch a),
           |asg AS (SELECT vec_id, v, aid AS cluster FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, aid) AS rn
           |  FROM sc) WHERE rn = 1),
           |cz AS (SELECT cluster, count(*) AS csize FROM asg GROUP BY cluster),
           |bnd AS (SELECT a.* FROM asg a JOIN cz USING (cluster) WHERE csize <= 150),
           |edges1 AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM bnd x JOIN bnd y
           |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
           |  WHERE ${sqlCos("x.v", "y.v")} >= 0.35),
           |hot AS (SELECT a.*, cz.csize FROM asg a JOIN cz USING (cluster) WHERE csize > 150),
           |sa AS (SELECT cluster, vec_id AS said, v AS sav FROM (
           |  SELECT cluster, vec_id, v, csize,
           |    row_number() OVER (PARTITION BY cluster
           |      ORDER BY md5_number_lower(CAST(vec_id AS VARCHAR) || ':anchor2') % 2147483647, vec_id) AS rn
           |  FROM hot) WHERE rn <= CAST(ceil(4.0 * csize / 150) AS INT)),
           |ssc AS (SELECT h.vec_id, h.v, h.cluster, s.said, ${sqlCos("h.v", "s.sav")} AS cs
           |        FROM hot h JOIN sa s USING (cluster)),
           |sasg AS (SELECT vec_id, v, cluster, said AS sub FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, said) AS rn
           |  FROM ssc) WHERE rn = 1),
           |scz AS (SELECT cluster, sub, count(*) AS ssize FROM sasg GROUP BY 1, 2),
           |sbnd AS (SELECT a.* FROM sasg a JOIN scz USING (cluster, sub) WHERE ssize <= 150),
           |edges2 AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM sbnd x JOIN sbnd y
           |  ON x.cluster = y.cluster AND x.sub = y.sub AND x.vec_id < y.vec_id
           |  WHERE ${sqlCos("x.v", "y.v")} >= 0.35),
           |edges AS (SELECT * FROM edges1 UNION ALL SELECT * FROM edges2),
           |sym AS (SELECT id_a AS u, id_b AS v2 FROM edges UNION SELECT id_b, id_a FROM edges),
           |reach(id, r) AS (
           |  SELECT DISTINCT u, u FROM sym
           |  UNION
           |  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v2 = reach.id),
           |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
           |ex AS (SELECT g.vec_id, (scz.ssize > 150) AS ex2
           |       FROM sasg g JOIN scz USING (cluster, sub))
           |SELECT a.vec_id, a.cluster, coalesce(c.component, a.vec_id) AS canon,
           |  (coalesce(c.component, a.vec_id) = a.vec_id) AS kept,
           |  coalesce(ex.ex2, false) AS exempted
           |FROM asg a LEFT JOIN comp c ON c.id = a.vec_id
           |LEFT JOIN ex ON ex.vec_id = a.vec_id
           |ORDER BY a.vec_id""".stripMargin,

      // Positional 8-gram spans shared by >= 2 docs, collapsed to
      // maximal islands per doc.
      "q_dup_spans" ->
        s"""WITH ${tokCte()},
           |shp AS (SELECT doc_id, CASE WHEN len(ws) >= 8
           |  THEN list_transform(range(1, len(ws) - 6), i -> array_to_string(ws[i:i+7], ' '))
           |  ELSE [] END AS sh FROM toks),
           |pos AS (SELECT doc_id, unnest(range(1, len(sh)+1)) AS pos,
           |        unnest(list_transform(sh, s -> md5_number_lower(s))) AS h FROM shp),
           |dup AS (SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
           |dp AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (h)),
           |isl AS (SELECT doc_id, pos,
           |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
           |sp AS (SELECT doc_id, grp, count(*) AS span_ngrams FROM isl GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(span_ngrams) AS BIGINT) AS n_dup_ngrams,
           |  count(*) AS n_spans, CAST(max(span_ngrams) + 7 AS BIGINT) AS max_span_tokens
           |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // token t (1-based) is covered by duplicated gram i iff
      // i <= t <= i+7; rebuild = kept tokens in position order
      "q_remove_spans" ->
        s"""WITH ${tokCte()},
           |shp AS (SELECT doc_id, CASE WHEN len(ws) >= 8
           |  THEN list_transform(range(1, len(ws) - 6), i -> array_to_string(ws[i:i+7], ' '))
           |  ELSE [] END AS sh FROM toks),
           |pos AS (SELECT doc_id, unnest(range(1, len(sh)+1)) AS pos,
           |        unnest(list_transform(sh, s -> md5_number_lower(s))) AS h FROM shp),
           |dup AS (SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
           |dp AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (h)),
           |tp AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS t FROM dp),
           |ex AS (SELECT doc_id, unnest(range(1, len(ws)+1)) AS t, unnest(ws) AS tok FROM toks),
           |kt AS (SELECT e.doc_id, e.t, e.tok, (tp.t IS NOT NULL) AS dropped
           |       FROM ex e LEFT JOIN tp ON e.doc_id = tp.doc_id AND e.t = tp.t),
           |agg AS (SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_tokens,
           |  coalesce(string_agg(CASE WHEN NOT dropped THEN tok END, ' ' ORDER BY t), '') AS clean
           |  FROM kt GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
           |  coalesce(a.n_removed_tokens, 0) AS n_removed_tokens,
           |  md5(coalesce(a.clean, '')) AS clean_md5
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin,

      "q_ann_quantized" ->
        """SELECT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

      "q_stream_fingerprint" ->
        """WITH n AS (
          |  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
          |  FROM documents),
          |f AS (SELECT DISTINCT CAST(CASE WHEN md5_number_lower(norm) >= 9223372036854775808
          |  THEN CAST(md5_number_lower(norm) AS HUGEINT) - 18446744073709551616
          |  ELSE CAST(md5_number_lower(norm) AS HUGEINT) END AS BIGINT) AS fp FROM n)
          |SELECT fp FROM f ORDER BY fp""".stripMargin,

      "q_chunk_docs" ->
        s"""WITH ${tokCte()},
           |ex AS (SELECT doc_id, unnest(range(1, len(ws)+1)) - 1 AS pos, unnest(ws) AS tok FROM toks),
           |nn AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
           |a AS (SELECT e.doc_id, e.pos, e.tok,
           |  CAST(CASE WHEN nn.n <= 40 THEN 1 ELSE floor((nn.n - 41) / 32) + 2 END AS BIGINT) AS n_chunks,
           |  CAST(CASE WHEN e.pos < 40 THEN 0 ELSE floor((e.pos - 40) / 32) + 1 END AS BIGINT) AS i_min,
           |  CAST(floor(e.pos / 32) AS BIGINT) AS i_raw
           |  FROM ex e JOIN nn ON nn.doc_id = e.doc_id),
           |c AS (SELECT doc_id, pos, tok,
           |        unnest(range(i_min, least(i_raw, n_chunks - 1) + 1)) AS chunk_idx FROM a)
           |SELECT doc_id, chunk_idx, min(pos) AS start_tok, max(pos) + 1 AS end_tok,
           |  count(*) AS n_tokens, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
           |FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_idx""".stripMargin,

      "q_downsample" ->
        """WITH g AS (SELECT doc_id, lang || ':' || source AS grp FROM documents),
          |s AS (SELECT doc_id, grp, count(*) OVER (PARTITION BY grp) AS group_size,
          |  row_number() OVER (PARTITION BY grp
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM g)
          |SELECT doc_id, grp, group_size, CAST(rk AS BIGINT) AS rk FROM s
          |WHERE rk <= length(bin(group_size)) ORDER BY doc_id""".stripMargin,

      "q_curation_pipeline" ->
        s"""WITH ${tokCte()},
           |$QualityFilterMetricCtes,
           |kept AS (SELECT doc_id, n FROM m
           |  WHERE sr >= 0.03 AND tf <= 0.2 AND n <= 90 AND n >= 20
           |    AND mwl >= 3.0 AND mwl <= 5.0),
           |f AS (SELECT d.doc_id, d.text, kept.n FROM documents d
           |      JOIN kept USING (doc_id)),
           |k AS (SELECT doc_id, n,
           |        row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM f),
           |dd AS (SELECT doc_id, n FROM k WHERE rn = 1),
           |b AS (SELECT doc_id, n,
           |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT
           |        % 1000000 AS bucket FROM dd)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           |  CASE WHEN bucket < 900000 THEN 0 WHEN bucket < 950000 THEN 1 ELSE 2 END AS split
           |FROM b ORDER BY doc_id""".stripMargin,

      // DuckDB regexp_replace needs the explicit 'g' flag wherever
      // Spark's replaces all occurrences (Spark is global by default).
      "q_url_normalize" ->
        """WITH u AS (SELECT doc_id,
          |  'HTTPS://WWW.' || source || '.Example.com:443/Docs/' || CAST(doc_id AS VARCHAR)
          |    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
          |    || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
          |    || CASE WHEN doc_id % 2 = 0 THEN '&gclid=abc' ELSE '' END
          |    || '#frag' AS url FROM documents),
          |nf AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nofrag FROM u),
          |p0 AS (SELECT doc_id,
          |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://.*', 1)) AS scheme,
          |  lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*', 1)) AS rawhost,
          |  regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)', 1) AS rest
          |  FROM nf),
          |p AS (SELECT doc_id, scheme, rest,
          |  CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80\z', '')
          |       WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443\z', '')
          |       ELSE rawhost END AS host FROM p0),
          |q AS (SELECT doc_id, scheme, host,
          |  regexp_replace(rest, '\?.*', '') AS path,
          |  CASE WHEN strpos(rest, '?') > 0 THEN regexp_replace(rest, '^[^?]*\?', '') ELSE '' END AS qs
          |  FROM p),
          |k AS (SELECT doc_id, scheme, host,
          |  CASE WHEN path = '/' THEN '' ELSE path END AS path,
          |  array_to_string(list_filter(string_split(qs, '&'),
          |    x -> len(x) > 0 AND NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=')), '&') AS cq
          |  FROM q)
          |SELECT doc_id, scheme || '://' || host || path ||
          |  CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical
          |FROM k ORDER BY doc_id""".stripMargin,

      // the suffix alternation is interpolated from the SAME Scala
      // value the Spark-side regex compiles — one source of truth
      "q_host_extract" ->
        s"""WITH u AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
           |  THEN 'HTTPS://WWW.' || source || '.Example.COM/p/' || CAST(doc_id AS VARCHAR) || '#f'
           |  ELSE 'http://user:pa@' || source || '.Example.CO.UK:8080/p?x=1' END AS url FROM documents),
           |h AS (SELECT doc_id, lower(regexp_replace(regexp_replace(
           |    regexp_extract(regexp_replace(url, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*', 1),
           |    '^.*@', ''), ':[0-9]*\\z', '')) AS host FROM u),
           |r AS (SELECT doc_id, host, regexp_extract(host,
           |  '([^.]+\\.(?:${TextFunctions.publicSuffixAlternation()}))\\z', 1) AS m FROM h)
           |SELECT doc_id, host, CASE WHEN m <> '' THEN m ELSE host END AS reg_domain
           |FROM r ORDER BY doc_id""".stripMargin,

      // two-lane md5 sort key: priority = bottomKSample's 60-bit md5
      // lane, tie = signed md5-64 of (id || ':tie') — both replicated
      "q_domain_cap" ->
        """WITH d AS (SELECT doc_id, source AS domain FROM documents),
          |k AS (SELECT domain, doc_id,
          |  row_number() OVER (PARTITION BY domain ORDER BY
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT,
          |    CAST(CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR) || ':tie') >= 9223372036854775808
          |      THEN CAST(md5_number_lower(CAST(doc_id AS VARCHAR) || ':tie') AS HUGEINT) - 18446744073709551616
          |      ELSE CAST(md5_number_lower(CAST(doc_id AS VARCHAR) || ':tie') AS HUGEINT) END AS BIGINT)) AS rn
          |  FROM d)
          |SELECT domain, doc_id FROM k WHERE rn <= 10 ORDER BY domain, doc_id""".stripMargin,

      // dot-suffix chain membership — same semantics as the Spark
      // arrays_overlap over the transform-built chain
      "q_domain_filter" ->
        """WITH h AS (SELECT doc_id,
          |  (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) || source ||
          |  (CASE WHEN doc_id % 3 = 0 THEN '.example.org' ELSE '.example.com' END) AS host FROM documents),
          |c AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM h),
          |m AS (SELECT doc_id, host,
          |  len(list_filter(list_transform(range(1, len(parts) + 1),
          |    i -> array_to_string(list_slice(parts, i, len(parts)), '.')),
          |    s -> s IN ('src1.example.com', 'example.org'))) > 0 AS matched FROM c)
          |SELECT doc_id, host FROM m WHERE NOT matched ORDER BY doc_id""".stripMargin,

      "q_unicode_nfc" ->
        """WITH u AS (SELECT doc_id,
          |  text || ' cafe' || chr(769) || ' ' || chr(8491) AS raw FROM documents)
          |SELECT doc_id, length(raw) AS raw_chars,
          |  length(nfc_normalize(raw)) AS nfc_chars,
          |  md5(nfc_normalize(raw)) AS nfc_md5
          |FROM u ORDER BY doc_id""".stripMargin,

      "q_strip_html" ->
        """WITH h AS (SELECT doc_id,
          |  '<html><body class="x"><h1>Doc ' || CAST(doc_id AS VARCHAR)
          |  || '</h1><script>var a = 1 &amp;&amp; 2;</script><p>' || substr(text, 1, 40)
          |  || ' &amp; more &lt;stuff&gt;</p><style>p{color:red}</style></body></html>' AS html
          |  FROM documents),
          |s1 AS (SELECT doc_id,
          |  regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h),
          |s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1),
          |s3 AS (SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |    t, '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
          |    '&quot;', '"', 'g'), '&#39;', CHR(39), 'g'), '&amp;', '&', 'g') AS t FROM s2),
          |c AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean FROM s3),
          |tok AS (SELECT doc_id, clean,
          |  CASE WHEN len(trim(clean)) = 0 THEN 0
          |    ELSE len(list_filter(string_split_regex(trim(clean), '\s+'), x -> len(x) > 0)) END AS n_tokens
          |  FROM c)
          |SELECT doc_id, md5(clean) AS clean_md5, CAST(n_tokens AS BIGINT) AS n_tokens
          |FROM tok ORDER BY doc_id""".stripMargin,

      // Same 8-token re-chunk (DuckDB list slices are 1-based
      // inclusive, matching Spark's slice(start,len)), then the full
      // boilerplate algebra: count lines in >= 2 distinct docs,
      // remove, reassemble in position order. string_agg skips the
      // NULLs the CASE leaves for removed lines; coalesce('') covers
      // fully-boilerplate docs exactly like Spark's concat over an
      // empty array.
      "q_boilerplate" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |nc AS (SELECT doc_id, ws,
          |  greatest(CAST(ceil(len(ws)/8.0) AS BIGINT), 1) AS n FROM t),
          |ln AS (SELECT doc_id,
          |  unnest(range(0, n)) AS pos,
          |  unnest(list_transform(range(0, n), i -> array_to_string(ws[i*8+1:i*8+8], ' '))) AS line
          |  FROM nc),
          |bp AS (SELECT trim(line) AS k FROM ln WHERE trim(line) <> ''
          |       GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
          |m AS (SELECT l.doc_id, l.pos, l.line, (bp.k IS NOT NULL) AS hit
          |      FROM ln l LEFT JOIN bp ON trim(l.line) = bp.k)
          |SELECT doc_id, count(*) AS n_lines,
          |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |  md5(coalesce(string_agg(CASE WHEN NOT hit THEN line END, chr(10) ORDER BY pos), '')) AS clean_md5
          |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // global first-occurrence line dedup: keeper = min (doc_id, pos)
      // per trimmed line, exactly Spark's min(struct(id, pos)); blank
      // lines are pinned rn=1 so they are never deduped
      "q_line_dedup" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |nc AS (SELECT doc_id, ws,
          |  greatest(CAST(ceil(len(ws)/8.0) AS BIGINT), 1) AS n FROM t),
          |ln AS (SELECT doc_id,
          |  unnest(range(0, n)) AS pos,
          |  unnest(list_transform(range(0, n), i -> array_to_string(ws[i*8+1:i*8+8], ' '))) AS line
          |  FROM nc),
          |rk AS (SELECT doc_id, pos, line,
          |  CASE WHEN trim(line) = '' THEN 1
          |       ELSE row_number() OVER (PARTITION BY trim(line) ORDER BY doc_id, pos)
          |  END AS rn FROM ln)
          |SELECT doc_id, count(*) AS n_lines,
          |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos), '')) AS clean_md5
          |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_quality_filter" -> QualityFilterOracleSql,

      // identical semantics to the batch gate: the filter is a
      // stateless projection, so the streamed result over the same
      // rows IS the batch result — one oracle serves both
      "q_stream_quality" -> QualityFilterOracleSql,

      // concat-composed, same stripMargin-pipe caveat as
      // QualityFilterOracleSql
      "q_quality_funnel" -> (QualityFilterReasonCtes + "\n" +
        """SELECT count(*) AS n_docs,
          |  CAST(sum(CASE WHEN len(reasons) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  CAST(sum(CASE WHEN list_contains(reasons, 'low_stopword') THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword,
          |  CAST(sum(CASE WHEN list_contains(reasons, 'repetitive') THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
          |  CAST(sum(CASE WHEN list_contains(reasons, 'too_long') THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long,
          |  CAST(sum(CASE WHEN list_contains(reasons, 'too_short') THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
          |  CAST(sum(CASE WHEN list_contains(reasons, 'word_length') THEN 1 ELSE 0 END) AS BIGINT) AS n_word_length
          |FROM r""".stripMargin),

      // same signed-hash tie-break family as q_tfidf_terms
      "q_vocab" ->
        s"""WITH ${tokCte()},
           |ex AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
           |tc AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
           |ag AS (SELECT tok, CAST(sum(c) AS BIGINT) AS n_occurrences,
           |  count(*) AS n_docs,
           |  CAST(CASE WHEN md5_number_lower(tok) >= 9223372036854775808
           |    THEN CAST(md5_number_lower(tok) AS HUGEINT) - 18446744073709551616
           |    ELSE CAST(md5_number_lower(tok) AS HUGEINT) END AS BIGINT) AS h
           |  FROM tc GROUP BY tok)
           |SELECT row_number() OVER (ORDER BY n_occurrences DESC, h ASC) AS rank,
           |  tok AS term, n_docs, n_occurrences
           |FROM ag ORDER BY n_occurrences DESC, h ASC LIMIT 40""".stripMargin,

      // 8 chained damped-walk stages; see pageRankCtes
      "q_pagerank" ->
        (s"WITH ${pageRankCtes(8)} " +
          "SELECT node, r AS rank_nano FROM pr_r8 ORDER BY node"),

      // canonical a<b<c triple join == the degree-oriented triangle set
      "q_triangles" ->
        ("WITH li AS (SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem), " +
          "e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p), " +
          "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1), " +
          "tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
          "tn AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri) GROUP BY 1) " +
          "SELECT deg.node, deg.degree, COALESCE(tn.t, 0) AS n_triangles, " +
          "CASE WHEN deg.degree < 2 THEN 0.0 ELSE round(2.0 * COALESCE(tn.t, 0) / (deg.degree * (deg.degree - 1)), 6) END AS clustering " +
          "FROM deg LEFT JOIN tn USING (node) ORDER BY node"),

      // the same walk in micro units, rescaled x1000 to nano at the end
      "q_pagerank_micro" ->
        (s"WITH ${pageRankCtes(8, digits = 6)} " +
          "SELECT node, CAST(r * 1000 AS BIGINT) AS rank_nano FROM pr_r8 ORDER BY node"),

      // 8 weighted walk rounds; see weightedPrCtes
      "q_pagerank_weighted" ->
        (s"WITH ${weightedPrCtes(8)} " +
          "SELECT node, r AS rank_nano FROM wpr_r8 ORDER BY node"),

      // 5 chained synchronous-vote rounds; see lpaCtes
      "q_label_prop" ->
        (s"WITH ${lpaCtes(5)} " +
          "SELECT node, label FROM lp_r5 ORDER BY node"),

      // the damped walk with seed-gated mass; frontier filter is
      // algebra-neutral (zero ranks contribute zero)
      "q_ppr" ->
        (s"WITH ${pageRankCtes(8, seedPred = Some("node <= 40"))} " +
          "SELECT node, r AS rank_nano FROM pr_r8 ORDER BY node"),

      // 3 chained synchronous peel rounds at k=4; see kcoreCtes
      "q_kcore" ->
        (s"WITH ${kcoreCtes(4, 3)} " +
          "SELECT src AS node, CAST(count(*) AS BIGINT) AS degree " +
          "FROM kc_e3 GROUP BY 1 ORDER BY node"),

      // 4 chained hub/authority rounds; see hitsCtes
      "q_hits" ->
        (s"WITH ${hitsCtes(4)} " +
          "SELECT h.node, h.h AS hub_micro, a.a AS auth_micro " +
          "FROM ht_h4 h JOIN ht_a4 a USING (node) ORDER BY node"),

      // k chained merge stages; rank column from the stage index.
      // Composed by concatenation, NOT an outer stripMargin — the
      // fragment contains `||` concat operators and a re-strip would
      // eat the leading pipe of any line starting with one.
      "q_bpe_train" ->
        (s"WITH ${bpeCtes(BpeK)} " +
          s"SELECT CAST(r AS BIGINT) AS rank, a, b, a || b AS merged " +
          s"FROM (${bpeMergeRows(BpeK)}) ORDER BY rank"),

      // integer-exact quantized Gram matrix (see q_pca_gram comment);
      // zipped-unnest-free: plain range cross products over the dim
      "q_pca_gram" ->
        ("WITH qv AS (SELECT list_transform(CAST(embedding AS DOUBLE[]), " +
          "x -> CAST(floor(x * 16384 + 0.5) AS BIGINT)) AS q FROM embeddings) " +
          "SELECT i, j, CAST(sum(q[i+1] * q[j+1]) AS BIGINT) AS gram " +
          "FROM qv, range(64) t1(i), range(64) t2(j) WHERE i <= j " +
          "GROUP BY i, j ORDER BY i, j"),

      // whitening invariants pinned TRUE (quality-gate shape)
      "q_pca_whiten" ->
        ("SELECT CAST(i AS BIGINT) AS component, true AS mean_ok, true AS var_ok " +
          "FROM range(8) t(i) ORDER BY component"),

      // the distributed trainer must reproduce the same merge table
      "q_bpe_train_dist" ->
        (s"WITH ${bpeCtes(BpeK)} " +
          s"SELECT CAST(r AS BIGINT) AS rank, a, b, a || b AS merged " +
          s"FROM (${bpeMergeRows(BpeK)}) ORDER BY rank"),

      // approximate batching replayed whole: per-round top-3
      // candidates, the skip-disjoint greedy walk, batched replace
      // application, first-12 truncation in (round, position) order
      "q_bpe_train_approx" ->
        (s"WITH ${bpeApproxCtes(12, 3)} " +
          "SELECT CAST(row_number() OVER (ORDER BY rnd, ci) - 1 AS BIGINT) AS rank, " +
          "a, b, a || b AS merged " +
          s"FROM (${bpeApproxMergeRows(12)}) ORDER BY rank LIMIT 12"),

      // byte-level: same merge stages over hex-pair stage-0 symbols
      "q_bpe_bytes" ->
        (s"WITH ${bpeCtes(BpeK, bytes = true)} " +
          s"SELECT CAST(r AS BIGINT) AS rank, a, b, a || b AS merged " +
          s"FROM (${bpeMergeRows(BpeK)}) ORDER BY rank"),

      // byte-level encode: token count per word = remaining separator
      // count of the stage-k hex symbol string (same formula as
      // q_bpe_encode, byte CTEs)
      "q_bpe_bytes_encode" ->
        (s"WITH ${bpeCtes(BpeK, bytes = true)}, " +
          "docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents), " +
          s"perdoc AS (SELECT d.doc_id, CAST(sum(length(w.sym) - length(replace(w.sym, chr(31), ''))) AS BIGINT) AS n " +
          s"FROM docw d JOIN bpe_words$BpeK w USING (word) GROUP BY 1) " +
          "SELECT documents.doc_id, coalesce(perdoc.n, 0) AS n_bpe_tokens " +
          "FROM documents LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id"),

      // see BpeVocabCtes
      "q_bpe_vocab" ->
        (s"WITH ${bpeCtes(BpeK)}, $BpeVocabCtes " +
          "SELECT token_id, token, kind FROM bpe_voc ORDER BY token_id"),

      // token-id encoding: stage-k symbol lists per distinct word,
      // exploded to tokens WITH positions (word ordinal via zipped
      // unnest, intra-word ordinal via zipped range), the global
      // in-doc token position reconstructed as row_number over
      // (wpos, ipos) — exactly posexplode's pos+1 on the Spark side —
      // feeding the order-sensitive sum(token_id * gpos) % 1e9+7
      // checksum; LEFT JOIN from documents keeps wordless docs at 0s
      "q_bpe_ids" ->
        (s"WITH ${bpeCtes(BpeK)}, $BpeVocabCtes, " +
          "bpe_docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word, " +
          "unnest(range(1, len(regexp_extract_all(lower(text), '[a-z]+')) + 1)) AS wpos FROM documents), " +
          "bpe_wtokl AS (SELECT word, list_filter(string_split(replace(sym, chr(2), ''), chr(31)), x -> x <> '') AS toks " +
          s"FROM bpe_words$BpeK), " +
          "bpe_dtok AS (SELECT d.doc_id, d.wpos, unnest(w.toks) AS token, unnest(range(1, len(w.toks) + 1)) AS ipos " +
          "FROM bpe_docw d JOIN bpe_wtokl w USING (word)), " +
          "bpe_gtok AS (SELECT doc_id, token, row_number() OVER (PARTITION BY doc_id ORDER BY wpos, ipos) AS gpos FROM bpe_dtok), " +
          "bpe_j AS (SELECT g.doc_id, v.token_id, g.gpos FROM bpe_gtok g JOIN bpe_voc v USING (token)), " +
          "bpe_per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(token_id) AS BIGINT) AS s, " +
          "CAST(sum(token_id * gpos) % 1000000007 AS BIGINT) AS ck FROM bpe_j GROUP BY 1) " +
          "SELECT documents.doc_id, coalesce(bpe_per.n, 0) AS n_tokens, coalesce(bpe_per.s, 0) AS sum_token_id, " +
          "coalesce(bpe_per.ck, 0) AS pos_checksum " +
          "FROM documents LEFT JOIN bpe_per USING (doc_id) ORDER BY doc_id"),

      // encode = join doc words to the stage-k vocabulary; token count
      // per word = its remaining chr(31) separator count. LEFT JOIN +
      // coalesce so a doc with no [a-z]+ word still reports 0 (the
      // kernel emits a row for every doc).
      "q_bpe_encode" -> BpeEncodeOracleSql,

      // stateless projection: the streamed rows ARE the batch rows
      "q_stream_bpe" -> BpeEncodeOracleSql,

      // vocab = q_vocab's top-40; OOV = tokens outside it
      "q_oov" -> OovOracleSql,

      // stateless projection: the streamed rows ARE the batch rows
      "q_stream_oov" -> OovOracleSql,

      // term identity = md5-lower-64 on BOTH engines (Spark's tf/df
      // aggs AND the ranking window shuffle 8-byte keys; the rank
      // tie-break is the SIGNED hash — DuckDB's UBIGINT is
      // two's-complemented to BIGINT so it orders like Spark's Long —
      // and term text joins on only the surviving top-k rows from a
      // min(term) dictionary — min, not first, so a hash collision
      // would resolve identically here and in Spark)
      "q_tfidf_terms" ->
        s"""WITH ${tokCte()},
           |ex0 AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
           |ex AS (SELECT doc_id, tok,
           |  CAST(CASE WHEN md5_number_lower(tok) >= 9223372036854775808
           |    THEN CAST(md5_number_lower(tok) AS HUGEINT) - 18446744073709551616
           |    ELSE CAST(md5_number_lower(tok) AS HUGEINT) END AS BIGINT) AS h FROM ex0),
           |tf AS (SELECT doc_id, h, count(*) AS tf FROM ex GROUP BY 1, 2),
           |dfq AS (SELECT h, count(*) AS term_df FROM tf GROUP BY h),
           |dict AS (SELECT h, min(tok) AS term FROM ex GROUP BY h),
           |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
           |sc AS (SELECT tf.doc_id, tf.h, tf.tf, dfq.term_df,
           |  tf.tf * CAST(round(ln(CAST(n_docs AS DOUBLE)/term_df) * 1e9) AS BIGINT) AS score_nano
           |  FROM tf JOIN dfq USING (h) CROSS JOIN nd),
           |rnk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_nano DESC, h) AS rk FROM sc)
           |SELECT doc_id, dict.term, tf, term_df, score_nano, CAST(rk AS BIGINT) AS rk
           |FROM rnk JOIN dict USING (h) WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

      "q_containment" ->
        s"""WITH ${tokCte()}, $ShingleCtes,
           |ds AS (SELECT doc_id,
           |  list_distinct(list_transform(shingles, s -> md5_number_lower(s))) AS hs FROM sh),
           |sz AS (SELECT doc_id, len(hs) AS n_sh FROM ds),
           |ex2 AS (SELECT doc_id, unnest(hs) AS s FROM ds),
           |co AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS common
           |       FROM ex2 x JOIN ex2 y ON x.s = y.s AND x.doc_id < y.doc_id
           |       GROUP BY 1, 2),
           |cr AS (SELECT id_a, id_b,
           |  CAST(common AS DOUBLE)/least(na.n_sh, nb.n_sh) AS containment
           |  FROM co JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b)
           |SELECT id_a, id_b, round(containment, 6) AS containment
           |FROM cr WHERE containment >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      // Aggregates the ORIGINAL parquet — matching the Spark result,
      // which aggregated the ORC re-read, proves the round trip
      // content-lossless. Signed-BIGINT md5 recipe as in
      // q_fingerprint; chr(1) separates fields unambiguously.
      "q_orc_roundtrip" ->
        """WITH m AS (SELECT lang, source, n_chars,
          |  md5_number_lower(
          |    coalesce(CAST(doc_id AS VARCHAR), '<NULL>') || chr(1) ||
          |    coalesce(text, '<NULL>') || chr(1) ||
          |    coalesce(lang, '<NULL>') || chr(1) ||
          |    coalesce(source, '<NULL>') || chr(1) ||
          |    coalesce(CAST(n_chars AS VARCHAR), '<NULL>')) AS u
          |  FROM documents),
          |h AS (SELECT lang, source, n_chars,
          |  CAST(CASE WHEN u >= 9223372036854775808
          |    THEN CAST(u AS HUGEINT) - 18446744073709551616
          |    ELSE CAST(u AS HUGEINT) END AS BIGINT) AS h64 FROM m)
          |SELECT lang, source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, bit_xor(h64) AS content_xor
          |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // identical oracle to q_orc_roundtrip: the claim is that the avro
      // write/read cycle is lossless against the parquet source of truth
      "q_avro_roundtrip" ->
        """WITH m AS (SELECT lang, source, n_chars,
          |  md5_number_lower(
          |    coalesce(CAST(doc_id AS VARCHAR), '<NULL>') || chr(1) ||
          |    coalesce(text, '<NULL>') || chr(1) ||
          |    coalesce(lang, '<NULL>') || chr(1) ||
          |    coalesce(source, '<NULL>') || chr(1) ||
          |    coalesce(CAST(n_chars AS VARCHAR), '<NULL>')) AS u
          |  FROM documents),
          |h AS (SELECT lang, source, n_chars,
          |  CAST(CASE WHEN u >= 9223372036854775808
          |    THEN CAST(u AS HUGEINT) - 18446744073709551616
          |    ELSE CAST(u AS HUGEINT) END AS BIGINT) AS h64 FROM m)
          |SELECT lang, source, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, bit_xor(h64) AS content_xor
          |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_profile" ->
        """WITH d AS (SELECT doc_id, lang, source, n_chars,
          |  CASE WHEN lang = 'en' THEN CAST(NULL AS VARCHAR) ELSE lang END AS lang_nn
          |  FROM documents)
          |SELECT * FROM (
          |  SELECT 'doc_id' AS "column", count(*) AS n_rows,
          |    count(*) - count(doc_id) AS n_null, count(DISTINCT doc_id) AS n_distinct,
          |    CAST(min(doc_id) AS VARCHAR) AS min_value, CAST(max(doc_id) AS VARCHAR) AS max_value FROM d
          |  UNION ALL SELECT 'lang', count(*), count(*) - count(lang),
          |    count(DISTINCT lang), min(lang), max(lang) FROM d
          |  UNION ALL SELECT 'source', count(*), count(*) - count(source),
          |    count(DISTINCT source), min(source), max(source) FROM d
          |  UNION ALL SELECT 'n_chars', count(*), count(*) - count(n_chars),
          |    count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM d
          |  UNION ALL SELECT 'lang_nn', count(*), count(*) - count(lang_nn),
          |    count(DISTINCT lang_nn), min(lang_nn), max(lang_nn) FROM d
          |) ORDER BY "column"""".stripMargin,

      "q_dedup_incremental" -> IncrementalDedupOracleSql,

      // the streaming screen IS the batch screen per micro-batch
      // (stream-static, stateless), so the batch oracle verifies the
      // streamed union verbatim — same sharing as q_stream_quality
      "q_stream_neardedup" -> IncrementalDedupOracleSql,

      "q_surprisal" ->
        s"""WITH ${tokCte()},
           |ex AS (SELECT doc_id, md5_number_lower(unnest(ws)) AS h FROM toks),
           |tc AS (SELECT h, count(*) AS c FROM ex GROUP BY h),
           |tot AS (SELECT count(*) AS t FROM ex),
           |j AS (SELECT doc_id,
           |  CAST(round(ln(CAST(t AS DOUBLE)/c) * 1e9) AS BIGINT) AS nll
           |  FROM ex JOIN tc USING (h) CROSS JOIN tot)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(nll) AS BIGINT) AS nll_nano,
           |  round(CAST(sum(nll) AS DOUBLE)/count(*)/1e9, 6) AS avg_nll
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // bigram stupid-backoff LM: counts from even doc_ids, scoring
      // the odd ones. Parallel unnests zip the position-aligned
      // (prev, cur, bigram) hash lists; every ln argument is a ratio
      // of exact integers (alpha = 2/5), so per-token nano-nats are
      // engine-exact like q_surprisal's. ULP-BOUNDARY ASSUMPTION
      // (accepted risk, shared with q_surprisal, here on THREE ln
      // branches): CAST(round(ln(r)*1e9)) matches across engines only
      // because JVM Math.log and DuckDB's libm log agree to the last
      // ulp on these integer-ratio arguments; a 1-ulp divergence
      // landing exactly on a .5 nano-nat boundary would flip one
      // token's nll by 1 and flake the hash gate. If this gate ever
      // flakes on regenerated data with a ±1 nll_nano diff on a
      // handful of docs, suspect this boundary before suspecting the
      // LM logic — the fix would be snapping ln inputs to a coarser
      // grid, not changing counts.
      "q_bigram_lm" ->
        s"""WITH ${tokCte()},
           |tr AS (SELECT ws FROM toks WHERE doc_id % 2 = 0),
           |sc AS (SELECT doc_id, ws FROM toks WHERE doc_id % 2 = 1),
           |u1 AS (SELECT md5_number_lower(unnest(ws)) AS h FROM tr),
           |c1 AS (SELECT h, count(*) AS c FROM u1 GROUP BY h),
           |tot AS (SELECT count(*) AS t FROM u1),
           |b2 AS (SELECT unnest(list_transform(range(1, len(ws)),
           |    i -> md5_number_lower(ws[i] || ' ' || ws[i+1]))) AS h2 FROM tr),
           |c2 AS (SELECT h2, count(*) AS c FROM b2 GROUP BY h2),
           |srows AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> CASE WHEN i = 1 THEN NULL ELSE md5_number_lower(ws[i-1]) END)) AS hp,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> md5_number_lower(ws[i]))) AS hc,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> CASE WHEN i = 1 THEN NULL ELSE md5_number_lower(ws[i-1] || ' ' || ws[i]) END)) AS hb
           |  FROM sc),
           |j AS (SELECT doc_id, hp,
           |    cb.c AS c2, cp.c AS c1p, greatest(coalesce(cu.c, 1), 1) AS mc
           |  FROM srows
           |  LEFT JOIN c2 cb ON srows.hb = cb.h2
           |  LEFT JOIN c1 cp ON srows.hp = cp.h
           |  LEFT JOIN c1 cu ON srows.hc = cu.h),
           |n AS (SELECT doc_id,
           |    CASE WHEN hp IS NULL
           |      THEN CAST(round(ln(CAST(t AS DOUBLE)/mc) * 1e9) AS BIGINT)
           |    WHEN c2 IS NOT NULL
           |      THEN CAST(round(ln(CAST(c1p AS DOUBLE)/c2) * 1e9) AS BIGINT)
           |    ELSE CAST(round(ln(CAST(5*t AS DOUBLE)/(2*mc)) * 1e9) AS BIGINT)
           |    END AS nll,
           |    CASE WHEN hp IS NOT NULL AND c2 IS NULL THEN 1 ELSE 0 END AS bo
           |  FROM j CROSS JOIN tot)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(bo) AS BIGINT) AS n_backoff,
           |  CAST(sum(nll) AS BIGINT) AS nll_nano,
           |  round(CAST(sum(nll) AS DOUBLE)/count(*)/1e9, 6) AS avg_nll
           |FROM n GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // greedy longest-match segmentation: best-match length per
      // (word, pos) via a plain join+max, then the successor chain as
      // a recursive CTE; a word whose chain stalls (no match at a
      // reachable position) never reaches pos = len -> [UNK]
      "q_wordpiece" ->
        (s"WITH RECURSIVE ${bpeCtes(BpeK)}, $BpeVocabCtes, " +
          "wp_words AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents), " +
          "wp_pos AS (SELECT word, unnest(range(0, len(word))) AS pos FROM wp_words), " +
          "wp_best AS (SELECT p.word, p.pos, max(len(v.token)) AS bl " +
          "FROM wp_pos p JOIN bpe_voc v ON substr(p.word, CAST(p.pos + 1 AS INTEGER), len(v.token)) = v.token " +
          "GROUP BY 1, 2), " +
          "wp_seg AS (" +
          "SELECT word, CAST(0 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS pieces, 0 AS n FROM wp_words " +
          "UNION ALL " +
          "SELECT s.word, s.pos + b.bl, " +
          "s.pieces || CASE WHEN s.pieces = '' THEN '' ELSE '|' END || " +
          "substr(s.word, CAST(s.pos + 1 AS INTEGER), CAST(b.bl AS INTEGER)), s.n + 1 " +
          "FROM wp_seg s JOIN wp_best b ON s.word = b.word AND s.pos = b.pos " +
          "WHERE s.pos < len(s.word)), " +
          "wp_done AS (SELECT word, pieces, n FROM wp_seg WHERE pos = len(word)) " +
          "SELECT w.word, CAST(COALESCE(d.n, 1) AS INTEGER) AS n_pieces, " +
          "COALESCE(d.pieces, '[UNK]') AS pieces " +
          "FROM wp_words w LEFT JOIN wp_done d USING (word) ORDER BY word"),

      // min-piece lattice decode: BFS from the word end (recursive
      // UNION CTE — pos strictly decreases, k = path length, min(k)
      // per pos = the suffix DP), then the greedy-among-optimal chain
      // walk (max edge length whose target suffix cost is exactly one
      // less). Unreachable words coalesce to [UNK], the engine's
      // whole-word failure convention.
      "q_lattice_encode" ->
        (s"WITH RECURSIVE ${bpeCtes(BpeK)}, $BpeVocabCtes, " +
          "lt_words AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents), " +
          "lt_edges AS (SELECT p.word, p.pos, len(v.token) AS l " +
          "FROM (SELECT word, unnest(range(0, len(word))) AS pos FROM lt_words) p " +
          "JOIN bpe_voc v ON substr(p.word, CAST(p.pos + 1 AS INTEGER), len(v.token)) = v.token), " +
          "lt_suf AS (" +
          "SELECT word, CAST(len(word) AS BIGINT) AS pos, 0 AS k FROM lt_words " +
          "UNION " +
          "SELECT e.word, CAST(e.pos AS BIGINT), s.k + 1 " +
          "FROM lt_suf s JOIN lt_edges e ON e.word = s.word AND e.pos + e.l = s.pos), " +
          "lt_min AS (SELECT word, pos, min(k) AS suf FROM lt_suf GROUP BY 1, 2), " +
          "lt_next AS (SELECT e.word, e.pos, max(e.l) AS bl " +
          "FROM lt_edges e " +
          "JOIN lt_min m0 ON m0.word = e.word AND m0.pos = e.pos " +
          "JOIN lt_min m1 ON m1.word = e.word AND m1.pos = e.pos + e.l " +
          "WHERE m1.suf = m0.suf - 1 GROUP BY 1, 2), " +
          "lt_seg AS (" +
          "SELECT word, CAST(0 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS pieces, 0 AS n FROM lt_words " +
          "UNION ALL " +
          "SELECT s.word, s.pos + b.bl, " +
          "s.pieces || CASE WHEN s.pieces = '' THEN '' ELSE '|' END || " +
          "substr(s.word, CAST(s.pos + 1 AS INTEGER), CAST(b.bl AS INTEGER)), s.n + 1 " +
          "FROM lt_seg s JOIN lt_next b ON s.word = b.word AND s.pos = b.pos " +
          "WHERE s.pos < len(s.word)), " +
          "lt_done AS (SELECT word, pieces, n FROM lt_seg WHERE pos = len(word)) " +
          "SELECT w.word, CAST(COALESCE(d.n, 1) AS INTEGER) AS n_pieces, " +
          "COALESCE(d.pieces, '[UNK]') AS pieces " +
          "FROM lt_words w LEFT JOIN lt_done d USING (word) ORDER BY word"),

      // scored Viterbi replay: substring-occurrence counts → nano-nat
      // costs (the repo's round(ln·1e9) convention) → eff = 1024c+1 →
      // backward DP as a LIST-carrying recursive CTE (one row per
      // word per position, each iteration fills exactly the position
      // it owns from the edges list) → longest-optimal-edge chain
      // walk → pieces + exact integer total cost
      "q_unigram_encode" ->
        (s"WITH RECURSIVE ${bpeCtes(BpeK)}, $BpeVocabCtes, " +
          "ue_wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt " +
          "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents) GROUP BY 1), " +
          "ue_words AS (SELECT word FROM ue_wc), " +
          "ue_pos AS (SELECT word, unnest(range(0, len(word))) AS pos FROM ue_words), " +
          "ue_occ AS (SELECT v.token, CAST(sum(w.cnt) AS BIGINT) AS cnt " +
          "FROM ue_pos p JOIN ue_wc w USING (word) " +
          "JOIN bpe_voc v ON substr(p.word, CAST(p.pos + 1 AS INTEGER), len(v.token)) = v.token GROUP BY 1), " +
          "ue_tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM ue_occ), " +
          "ue_cost AS (SELECT token, " +
          "CAST(round(ln(CAST(t AS DOUBLE) / cnt) * 1e9) AS BIGINT) AS c, " +
          "CAST(round(ln(CAST(t AS DOUBLE) / cnt) * 1e9) AS BIGINT) * 1024 + 1 AS eff " +
          "FROM ue_occ CROSS JOIN ue_tot), " +
          "ue_e AS (SELECT p.word, list(struct_pack(s := CAST(p.pos AS BIGINT), " +
          "e := CAST(p.pos + len(v.token) AS BIGINT), f := ue_cost.eff)) AS edges " +
          "FROM ue_pos p JOIN bpe_voc v ON substr(p.word, CAST(p.pos + 1 AS INTEGER), len(v.token)) = v.token " +
          "JOIN ue_cost ON ue_cost.token = v.token GROUP BY 1), " +
          "ue_dp AS (" +
          "SELECT word, CAST(len(word) AS BIGINT) AS at, " +
          "list_append(list_transform(range(1, len(word) + 1), x -> CAST(NULL AS BIGINT)), CAST(0 AS BIGINT)) AS best " +
          "FROM ue_words " +
          "UNION ALL " +
          "SELECT d.word, d.at - 1, " +
          "list_transform(range(1, CAST(len(d.word) AS BIGINT) + 2), p -> " +
          "CASE WHEN p = d.at THEN " +
          "list_min(list_transform(" +
          "list_filter(e.edges, ed -> ed.s = d.at - 1 AND d.best[CAST(ed.e AS INTEGER) + 1] IS NOT NULL), " +
          "ed -> ed.f + d.best[CAST(ed.e AS INTEGER) + 1])) " +
          "ELSE d.best[CAST(p AS INTEGER)] END) " +
          "FROM ue_dp d JOIN ue_e e USING (word) WHERE d.at > 0), " +
          "ue_final AS (SELECT word, best FROM ue_dp WHERE at = 0), " +
          "ue_sufp AS (SELECT word, unnest(range(0, len(word) + 1)) AS pos, best FROM ue_final), " +
          "ue_suf AS (SELECT word, pos, best[CAST(pos AS INTEGER) + 1] AS sc FROM ue_sufp), " +
          "ue_next AS (SELECT p.word, p.pos, max(len(v.token)) AS bl " +
          "FROM ue_pos p " +
          "JOIN bpe_voc v ON substr(p.word, CAST(p.pos + 1 AS INTEGER), len(v.token)) = v.token " +
          "JOIN ue_cost ON ue_cost.token = v.token " +
          "JOIN ue_suf s0 ON s0.word = p.word AND s0.pos = p.pos " +
          "JOIN ue_suf s1 ON s1.word = p.word AND s1.pos = p.pos + len(v.token) " +
          "WHERE s1.sc IS NOT NULL AND s0.sc IS NOT NULL AND s0.sc = ue_cost.eff + s1.sc " +
          "GROUP BY 1, 2), " +
          "ue_seg AS (" +
          "SELECT word, CAST(0 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS pieces, 0 AS n FROM ue_words " +
          "UNION ALL " +
          "SELECT s.word, s.pos + b.bl, " +
          "s.pieces || CASE WHEN s.pieces = '' THEN '' ELSE '|' END || " +
          "substr(s.word, CAST(s.pos + 1 AS INTEGER), CAST(b.bl AS INTEGER)), s.n + 1 " +
          "FROM ue_seg s JOIN ue_next b ON s.word = b.word AND s.pos = b.pos " +
          "WHERE s.pos < len(s.word)), " +
          "ue_done AS (SELECT word, pieces, n FROM ue_seg WHERE pos = len(word)) " +
          "SELECT w.word, CAST(COALESCE(d.n, 1) AS INTEGER) AS n_pieces, " +
          "COALESCE(d.pieces, '[UNK]') AS pieces, " +
          "CAST(CASE WHEN d.n IS NULL THEN -1 ELSE (f.best[1] - d.n) // 1024 END AS BIGINT) AS cost_nano " +
          "FROM ue_words w LEFT JOIN ue_done d USING (word) LEFT JOIN ue_final f USING (word) " +
          "ORDER BY word"),

      // layout-independent arithmetic — the walker must find fmt and
      // data wherever the chain puts them
      "q_wav_chunks" ->
        """WITH m AS (SELECT i AS asset_id,
          |    1 + i % 2 AS ch, 8000 + 1000 * (i % 5) AS rate,
          |    8 + 8 * (i % 2) AS bits, 1000 + i % 500 AS ndata
          |  FROM range(0, 200) t(i))
          |SELECT CAST(asset_id AS BIGINT) AS asset_id,
          |  CAST(ch AS INTEGER) AS channels,
          |  CAST(rate AS INTEGER) AS sample_rate_hz,
          |  CAST(bits AS INTEGER) AS bits,
          |  CAST(ndata * 1000 // (rate * ch * bits // 8) AS BIGINT) AS duration_ms
          |FROM m ORDER BY asset_id""".stripMargin,

      // the WHOLE hard-EM training run replayed: substring seed (all
      // chars + top multis by (count desc, token asc)), nano-nat
      // repricing round(ln(total/greatest(cnt,1))·1e9), one
      // recursive-CTE Viterbi round per EM round (unigramRoundCtes),
      // prune to 40 with mandatory chars — final (token, cnt, cost)
      "q_unigram_train" -> UnigramTrainOracleSql,

      // the TRAINED vocab drives the scored decoder end to end (the
      // q_wordpiece_bert analog for the unigram family): oracle =
      // the full training replay chained into a THIRD Viterbi round
      // under the final costs, reporting corpus-weighted piece usage
      "q_unigram_apply" ->
        (UnigramTrainCtes + ", " +
          "ug_c2 AS MATERIALIZED (SELECT token, " +
          "CAST(round(ln(CAST(t AS DOUBLE) / greatest(cnt, 1)) * 1e9) AS BIGINT) * 1024 + 1 AS eff " +
          "FROM ug_v2 CROSS JOIN ug_t2), " +
          unigramRoundCtes("ug_r3", "ug_c2") + " " +
          "SELECT token, cnt FROM ug_r3_use ORDER BY token"),

      // soft-EM forward-backward replayed in SQL: seed probs, the
      // prefix (alpha) and suffix (beta) log-partition DPs as
      // LIST-carrying recursive CTEs (plain ln-sum-exp — path sums
      // stay > -100 here, no shift needed), per-edge posteriors
      // exp(alpha+lp+beta-Z), corpus-weighted token sums, milli-nat
      // repricing. Engine and oracle agree to ~1e-13 relative; the
      // milli-nat rounding makes the gate deterministic.
      "q_unigram_em" ->
        ("WITH RECURSIVE " +
          "ug_wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt " +
          "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents) GROUP BY 1), " +
          "ug_words AS MATERIALIZED (SELECT word FROM ug_wc), " +
          "ug_pos AS MATERIALIZED (SELECT word, unnest(range(0, len(word))) AS pos FROM ug_words), " +
          "ug_sub AS MATERIALIZED (SELECT word, pos, unnest(range(1, least(5, len(word) - pos) + 1)) AS l FROM ug_pos), " +
          "ug_occ AS MATERIALIZED (SELECT substr(s.word, CAST(s.pos + 1 AS INTEGER), CAST(s.l AS INTEGER)) AS sub, " +
          "CAST(sum(w.cnt) AS BIGINT) AS n FROM ug_sub s JOIN ug_wc w ON w.word = s.word GROUP BY 1), " +
          "ug_chars AS MATERIALIZED (SELECT sub, n FROM ug_occ WHERE len(sub) = 1), " +
          "ug_nc AS MATERIALIZED (SELECT count(*) AS nc FROM ug_chars), " +
          "ug_m0 AS MATERIALIZED (SELECT sub, n FROM ug_occ, ug_nc WHERE len(sub) > 1 " +
          "QUALIFY row_number() OVER (ORDER BY n DESC, sub) <= 120 - nc), " +
          "ug_v0 AS MATERIALIZED (SELECT sub AS token, n FROM ug_chars UNION ALL SELECT sub, n FROM ug_m0), " +
          "ug_t0 AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS t FROM ug_v0), " +
          "ug_lp AS MATERIALIZED (SELECT token, ln(CAST(n AS DOUBLE) / t) AS lp FROM ug_v0 CROSS JOIN ug_t0), " +
          "um_e AS MATERIALIZED (SELECT q.word, list(struct_pack(s := CAST(q.pos AS BIGINT), " +
          "e := CAST(q.pos + len(v.token) AS BIGINT), f := v.lp, tk := v.token)) AS edges " +
          "FROM ug_pos q JOIN ug_lp v ON substr(q.word, CAST(q.pos + 1 AS INTEGER), len(v.token)) = v.token GROUP BY 1), " +
          // forward: vals[p+1] = alpha(p); each iteration fills p = at+1
          "um_fwd AS (" +
          "SELECT word, CAST(0 AS BIGINT) AS at, " +
          "list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(word) + 1), x -> CAST(NULL AS DOUBLE))) AS vals " +
          "FROM ug_words " +
          "UNION ALL " +
          "SELECT d.word, d.at + 1, " +
          "list_transform(range(1, CAST(len(d.word) AS BIGINT) + 2), p -> " +
          "CASE WHEN p = d.at + 2 THEN " +
          "ln(list_sum(list_transform(" +
          "list_filter(e.edges, ed -> ed.e = d.at + 1 AND d.vals[CAST(ed.s AS INTEGER) + 1] IS NOT NULL), " +
          "ed -> exp(d.vals[CAST(ed.s AS INTEGER) + 1] + ed.f)))) " +
          "ELSE d.vals[CAST(p AS INTEGER)] END) " +
          "FROM um_fwd d JOIN um_e e USING (word) WHERE d.at < len(d.word)), " +
          "um_alpha AS MATERIALIZED (SELECT word, vals FROM um_fwd WHERE at = len(word)), " +
          // backward: vals[p+1] = beta(p); each iteration fills p = at-1
          "um_bwd AS (" +
          "SELECT word, CAST(len(word) AS BIGINT) AS at, " +
          "list_append(list_transform(range(1, len(word) + 1), x -> CAST(NULL AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS vals " +
          "FROM ug_words " +
          "UNION ALL " +
          "SELECT d.word, d.at - 1, " +
          "list_transform(range(1, CAST(len(d.word) AS BIGINT) + 2), p -> " +
          "CASE WHEN p = d.at THEN " +
          "ln(list_sum(list_transform(" +
          "list_filter(e.edges, ed -> ed.s = d.at - 1 AND d.vals[CAST(ed.e AS INTEGER) + 1] IS NOT NULL), " +
          "ed -> exp(ed.f + d.vals[CAST(ed.e AS INTEGER) + 1])))) " +
          "ELSE d.vals[CAST(p AS INTEGER)] END) " +
          "FROM um_bwd d JOIN um_e e USING (word) WHERE d.at > 0), " +
          "um_beta AS MATERIALIZED (SELECT word, vals FROM um_bwd WHERE at = 0), " +
          "um_edge AS MATERIALIZED (SELECT q.word, q.pos AS s, q.pos + len(v.token) AS e, v.token, v.lp " +
          "FROM ug_pos q JOIN ug_lp v ON substr(q.word, CAST(q.pos + 1 AS INTEGER), len(v.token)) = v.token), " +
          "um_post AS MATERIALIZED (SELECT ed.token, " +
          "sum(c.cnt * exp(a.vals[CAST(ed.s AS INTEGER) + 1] + ed.lp + " +
          "b.vals[CAST(ed.e AS INTEGER) + 1] - a.vals[CAST(len(ed.word) AS INTEGER) + 1])) AS e " +
          "FROM um_edge ed JOIN um_alpha a ON a.word = ed.word " +
          "JOIN um_beta b ON b.word = ed.word JOIN ug_wc c ON c.word = ed.word " +
          "WHERE a.vals[CAST(ed.s AS INTEGER) + 1] IS NOT NULL " +
          "AND b.vals[CAST(ed.e AS INTEGER) + 1] IS NOT NULL GROUP BY 1), " +
          "um_z AS MATERIALIZED (SELECT sum(e) AS z FROM um_post) " +
          "SELECT v.token, " +
          "CAST(round(ln(z / greatest(coalesce(p.e, 0.0), 1e-9)) * 1e3) AS BIGINT) AS cost_milli " +
          "FROM ug_v0 v LEFT JOIN um_post p ON p.token = v.token CROSS JOIN um_z " +
          "ORDER BY v.token"),

      // every winnow window's rightmost unsigned argmin replayed
      // (list_min over UBIGINT == the kernel's compareUnsigned;
      // reverse+list_position picks the rightmost tie), signed-long
      // conversion only at the output boundary
      "q_winnow" ->
        (s"WITH ${tokCte()}, " +
          WinnowCtes +
          """SELECT doc_id AS id, CAST(pos AS INTEGER) AS pos,
            |  CAST(CASE WHEN h >= 9223372036854775808 THEN CAST(h AS HUGEINT) - 18446744073709551616
            |    ELSE CAST(h AS HUGEINT) END AS BIGINT) AS h
            |FROM wn_fp ORDER BY id, pos""".stripMargin),

      // distinct shared fingerprints per pair — the MOSS report.
      // wn_cap mirrors the engine's maxBucket=1000 hot-fingerprint
      // drop (bucketPairStream keeps 2..maxBucket): a boilerplate
      // hash shared by >1000 docs contributes NO pairs on either side.
      "q_winnow_pairs" ->
        (s"WITH ${tokCte()}, " +
          WinnowCtes +
          """, wn_d AS (SELECT DISTINCT doc_id, h FROM wn_fp),
            |wn_cap AS (SELECT doc_id, h FROM wn_d
            |  QUALIFY count(*) OVER (PARTITION BY h) BETWEEN 2 AND 1000)
            |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            |  count(*) AS n_shared
            |FROM wn_cap a JOIN wn_cap b ON a.h = b.h AND a.doc_id < b.doc_id
            |GROUP BY 1, 2 HAVING count(*) >= 2
            |ORDER BY id_a, id_b""".stripMargin),

      // the two-phase prefix sum == the plain cumulative window over
      // the identical total order, inclusive-budget cut
      "q_token_budget" ->
        """WITH r AS (SELECT doc_id, n_chars,
          |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank,
          |  sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |FROM documents)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank,
          |  CAST(cum AS BIGINT) AS cum_tokens
          |FROM r WHERE cum <= 100000 ORDER BY doc_id""".stripMargin,

      // position-set replay of the Bloom algebra: base = unsigned
      // md5-lower-64 mod P, lane i (1-based here = 0-based engine
      // lane i-1) = (laneA·base + laneB) mod P mod m; membership =
      // every probe position among the build side's distinct set —
      // bit-packing is representation, not semantics
      "q_bloom_screen" -> BloomOracleSql,

      // stateless stream projection of the same filter => same oracle
      "q_stream_bloom" -> BloomOracleSql,

      // the SCD2 interval pick replayed in batch: LEFT join events
      // (shifted +30 min) to the lead-window version table under the
      // identical [_start, _end)/open-current condition
      "q_stream_asof" ->
        s"""$VEventsSql,
           |d AS (SELECT _oid, _start AS d_start, _end AS d_end,
           |      event_type AS d_type FROM v WHERE _oid % 7 != 0),
           |e AS (SELECT CAST(event_id AS BIGINT) AS event_id,
           |      CAST(user_id AS BIGINT) AS user_id,
           |      epoch_us(ts)/1e6 + 1800 AS at FROM events)
           |SELECT e.event_id, e.user_id, e.at,
           |  coalesce(d.d_type, 'none') AS d_type,
           |  coalesce(d.d_start, -1.0) AS d_start
           |FROM e LEFT JOIN d ON e.user_id = d._oid
           |  AND d.d_start <= e.at AND (d.d_end IS NULL OR e.at < d.d_end)
           |ORDER BY event_id""".stripMargin,

      // the versioned-dim STREAM as-of replayed in batch: latest
      // purchase version at or before each event (ties: max payload
      // string — both engines compare VARCHAR binary), restricted to
      // the flushed region t <= max - 13h; integer-microsecond times
      "q_stream_asof_dim" ->
        """WITH e AS (SELECT CAST(event_id AS BIGINT) AS event_id,
          |    CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t_us
          |  FROM events),
          |d AS (SELECT CAST(user_id AS BIGINT) AS dk, epoch_us(ts) AS dt,
          |    CAST(CAST(event_id AS BIGINT) AS VARCHAR) AS payload
          |  FROM events WHERE event_type = 'purchase'),
          |mx AS (SELECT max(t_us) AS m FROM e),
          |f AS (SELECT e.* FROM e, mx WHERE e.t_us <= mx.m - 46800000000),
          |j AS (SELECT f.event_id, f.user_id, f.t_us, d.dt, d.payload,
          |    row_number() OVER (PARTITION BY f.event_id
          |      ORDER BY d.dt DESC, d.payload DESC) AS rn
          |  FROM f LEFT JOIN d ON f.user_id = d.dk AND d.dt <= f.t_us)
          |SELECT event_id, user_id, t_us,
          |  coalesce(dt, -1) AS dim_t_us,
          |  coalesce(payload, 'none') AS dim_payload
          |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

      // row semantics of the salted join == the plain equi-join
      "q_salted_join" ->
        """SELECT CAST(l_orderkey AS BIGINT) AS okey, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(max(o_custkey) AS BIGINT) AS custkey
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY okey""".stripMargin,

      // chained likelihood-scored merge replay; arg-max by exact
      // HUGEINT cross-multiplication (see wordpieceCtes)
      "q_wordpiece_train" -> WordpieceTrainOracleSql,

      // driver and distributed trainers share the contract, so they
      // share the oracle (the q_bpe_train_dist pattern)
      "q_wordpiece_train_dist" -> WordpieceTrainOracleSql,

      // trained-##-vocab greedy encode: vocab = stage-0 symbols +
      // first-formation merged tokens from the scored merge stages;
      // best match per (word, pos) splits initial (non-##) vs
      // continuation (##-stripped) entries; chain walk re-wears ##
      "q_wordpiece_bert" ->
        (s"WITH RECURSIVE ${wordpieceCtes(WpK)}, " +
          "wpv_base AS (SELECT DISTINCT unnest(syms) AS tok FROM wp_syms0), " +
          "wpv_mrg AS (SELECT DISTINCT mrg FROM (" +
          (0 until WpK).map(i => s"SELECT $i AS r, mrg FROM wp_best$i").mkString(" UNION ALL ") +
          ") WHERE mrg NOT IN (SELECT tok FROM wpv_base)), " +
          "wpv AS (SELECT tok FROM wpv_base UNION ALL SELECT mrg FROM wpv_mrg), " +
          "wpb_words AS (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents), " +
          "wpb_pos AS (SELECT word, unnest(range(0, len(word))) AS pos FROM wpb_words), " +
          "wpb_best AS (SELECT p.word, p.pos, " +
          "max(CASE WHEN p.pos = 0 THEN len(v.tok) ELSE len(v.tok) - 2 END) AS bl " +
          "FROM wpb_pos p JOIN wpv v ON " +
          "(p.pos = 0 AND substr(v.tok, 1, 2) != '##' " +
          "AND substr(p.word, 1, len(v.tok)) = v.tok) " +
          "OR (p.pos > 0 AND substr(v.tok, 1, 2) = '##' AND len(v.tok) > 2 " +
          "AND substr(p.word, CAST(p.pos + 1 AS INTEGER), len(v.tok) - 2) = substr(v.tok, 3)) " +
          "GROUP BY 1, 2), " +
          "wpb_seg AS (" +
          "SELECT word, CAST(0 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS pieces, 0 AS n FROM wpb_words " +
          "UNION ALL " +
          "SELECT s.word, s.pos + b.bl, " +
          "s.pieces || CASE WHEN s.pieces = '' THEN '' ELSE '|' END || " +
          "CASE WHEN s.pos = 0 THEN '' ELSE '##' END || " +
          "substr(s.word, CAST(s.pos + 1 AS INTEGER), CAST(b.bl AS INTEGER)), s.n + 1 " +
          "FROM wpb_seg s JOIN wpb_best b ON s.word = b.word AND s.pos = b.pos " +
          "WHERE s.pos < len(s.word)), " +
          "wpb_done AS (SELECT word, pieces, n FROM wpb_seg WHERE pos = len(word)) " +
          "SELECT w.word, CAST(COALESCE(d.n, 1) AS INTEGER) AS n_pieces, " +
          "COALESCE(d.pieces, '[UNK]') AS pieces " +
          "FROM wpb_words w LEFT JOIN wpb_done d USING (word) ORDER BY word"),

      // the A-ES integer key chain replayed end-to-end
      "q_weighted_sample" ->
        """WITH p AS (SELECT doc_id,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15))::BIGINT AS pri,
          |    len(text) AS w FROM documents),
          |kk AS (SELECT doc_id,
          |    CAST(round(ln(1152921504606846976.0 / (pri + 1)) * 1e9) AS BIGINT) // w AS wk FROM p),
          |sel AS (SELECT doc_id, wk FROM kk ORDER BY wk, doc_id LIMIT 50)
          |SELECT doc_id FROM sel ORDER BY doc_id""".stripMargin,

      // direct polynomial window hashes -> cut positions -> segments
      // via lag + per-doc tail remainder; chunk hash = signed
      // md5-lower-64 of the substr
      "q_cdc_chunks" ->
        (s"WITH ${cdcOracleCtes("documents")} " +
          """SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, CAST(s AS INTEGER) AS start,
            |  CAST(e - s + 1 AS INTEGER) AS len, sh AS chunk_hash
            |FROM cdc_hashed ORDER BY doc_id, chunk_idx""".stripMargin),

      // the same chunk CTEs over the shifted-twin corpus, grouped by
      // hash — nonempty BY CONSTRUCTION because CDC re-aligns the
      // twin after its 5-char prefix edit (the property the operator
      // exists for)
      "q_shared_blocks" ->
        (s"WITH cdc_twin AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 100000, 'zzzz ' || text FROM documents), " +
          s"${cdcOracleCtes("cdc_twin")} " +
          """SELECT sh AS chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
            |  CAST(count(*) AS BIGINT) AS n_occurrences
            |FROM cdc_hashed GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
            |ORDER BY chunk_hash""".stripMargin),

      // code-point histogram -> per-symbol rounded nano-nat terms ->
      // exact integer sum and division (HUGEINT-safe via //)
      "q_char_entropy" ->
        """WITH ch AS (SELECT doc_id, unnest(list_transform(range(1, len(text) + 1),
          |    i -> substr(text, i, 1))) AS c FROM documents),
          |cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY 1, 2),
          |nn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n, CAST(count(*) AS INTEGER) AS nd FROM cnt GROUP BY 1),
          |e AS (SELECT cnt.doc_id,
          |    SUM(k * CAST(round(ln(CAST(nn.n AS DOUBLE) / k) * 1e9) AS BIGINT)) AS s
          |  FROM cnt JOIN nn USING (doc_id) GROUP BY 1)
          |SELECT d.doc_id, COALESCE(nn.n, 0) AS n_chars, COALESCE(nn.nd, 0) AS n_distinct,
          |  CAST(COALESCE(e.s // nn.n, 0) AS BIGINT) AS entropy_nano
          |FROM documents d LEFT JOIN nn USING (doc_id) LEFT JOIN e ON d.doc_id = e.doc_id
          |ORDER BY doc_id""".stripMargin,

      // the two-phase global rank == a plain windowed row_number over
      // the identical total order; micro-ECDF by integer division
      "q_rank_normalize" ->
        """WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY len(text), doc_id) AS rank FROM documents),
          |n AS (SELECT count(*) AS n FROM documents)
          |SELECT doc_id, CAST(rank AS BIGINT) AS rank,
          |  CAST(rank * 1000000 // n AS BIGINT) AS pct_micro
          |FROM r CROSS JOIN n ORDER BY doc_id""".stripMargin,

      // every-occurrence blocklist counts via per-position substring
      // scans (overlapping included — range over ALL start positions)
      "q_blocklist" -> BlocklistOracleSql,

      // stateless stream projection of the same kernel => same oracle
      "q_stream_blocklist" -> BlocklistOracleSql,

      // the flushed-region contract: batch left join restricted to
      // clicks older than max(ts) - 19h, null matches as -1 sentinels
      "q_stream_join_outer" ->
        """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
          |c AS (SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
          |b AS (SELECT user_id AS b_user, event_id AS buy_id, ts AS ts_b FROM events WHERE event_type = 'purchase')
          |SELECT CAST(c.user_id AS BIGINT) AS user_id,
          |  CAST(c.click_id AS BIGINT) AS click_id,
          |  CAST(coalesce(b.buy_id, -1) AS BIGINT) AS buy_id,
          |  CAST(coalesce(epoch_us(b.ts_b) - epoch_us(c.ts), -1) AS BIGINT) AS gap_us
          |FROM c CROSS JOIN mx LEFT JOIN b
          |  ON c.user_id = b.b_user AND b.ts_b >= c.ts AND b.ts_b <= c.ts + INTERVAL 6 HOUR
          |WHERE epoch_us(c.ts) <= mx.m - CAST(19 * 3600 AS BIGINT) * 1000000
          |ORDER BY user_id, click_id, buy_id""".stripMargin,

      // the symmetric contract: batch RIGHT join restricted to buys
      // older than max(ts) - 19h, null clicks as -1 sentinels
      "q_stream_join_right" ->
        """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
          |c AS (SELECT user_id AS c_user, event_id AS click_id, ts AS ts_c FROM events WHERE event_type = 'click'),
          |b AS (SELECT user_id, event_id AS buy_id, ts FROM events WHERE event_type = 'purchase')
          |SELECT CAST(b.user_id AS BIGINT) AS user_id,
          |  CAST(coalesce(c.click_id, -1) AS BIGINT) AS click_id,
          |  CAST(b.buy_id AS BIGINT) AS buy_id,
          |  CAST(coalesce(epoch_us(b.ts) - epoch_us(c.ts_c), -1) AS BIGINT) AS gap_us
          |FROM b CROSS JOIN mx LEFT JOIN c
          |  ON b.user_id = c.c_user AND b.ts >= c.ts_c AND b.ts <= c.ts_c + INTERVAL 6 HOUR
          |WHERE epoch_us(b.ts) <= mx.m - CAST(19 * 3600 AS BIGINT) * 1000000
          |ORDER BY user_id, click_id, buy_id""".stripMargin,

      // both contracts at once: batch FULL OUTER join, every non-null
      // event time inside the flushed region, -1 sentinels both ways
      "q_stream_join_full" ->
        """WITH mx AS (SELECT m FROM (SELECT max(epoch_us(ts)) - CAST(19 * 3600 AS BIGINT) * 1000000 AS m FROM events)),
          |c AS (SELECT user_id AS c_user, event_id AS click_id, ts AS ts_c FROM events WHERE event_type = 'click'),
          |b AS (SELECT user_id AS b_user, event_id AS buy_id, ts AS ts_b FROM events WHERE event_type = 'purchase')
          |SELECT CAST(coalesce(c.c_user, b.b_user) AS BIGINT) AS user_id,
          |  CAST(coalesce(c.click_id, -1) AS BIGINT) AS click_id,
          |  CAST(coalesce(b.buy_id, -1) AS BIGINT) AS buy_id,
          |  CAST(coalesce(epoch_us(b.ts_b) - epoch_us(c.ts_c), -1) AS BIGINT) AS gap_us
          |FROM c FULL OUTER JOIN b
          |  ON c.c_user = b.b_user AND b.ts_b >= c.ts_c AND b.ts_b <= c.ts_c + INTERVAL 6 HOUR
          |CROSS JOIN mx
          |WHERE (c.ts_c IS NULL OR epoch_us(c.ts_c) <= mx.m)
          |  AND (b.ts_b IS NULL OR epoch_us(b.ts_b) <= mx.m)
          |ORDER BY user_id, click_id, buy_id""".stripMargin,

      // the bigram oracle one context word deeper: five aligned
      // per-position hashes (prev unigram, current, PREFIX bigram,
      // current bigram, trigram), five left joins, six nll branches
      "q_trigram_lm" ->
        s"""WITH ${tokCte()},
           |tr AS (SELECT ws FROM toks WHERE doc_id % 2 = 0),
           |sc AS (SELECT doc_id, ws FROM toks WHERE doc_id % 2 = 1),
           |u1 AS (SELECT md5_number_lower(unnest(ws)) AS h FROM tr),
           |c1 AS (SELECT h, count(*) AS c FROM u1 GROUP BY h),
           |tot AS (SELECT count(*) AS t FROM u1),
           |b2 AS (SELECT unnest(list_transform(range(1, len(ws)),
           |    i -> md5_number_lower(ws[i] || ' ' || ws[i+1]))) AS h2 FROM tr),
           |c2 AS (SELECT h2, count(*) AS c FROM b2 GROUP BY h2),
           |t3 AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
           |    i -> md5_number_lower(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS h3 FROM tr),
           |c3 AS (SELECT h3, count(*) AS c FROM t3 GROUP BY h3),
           |srows AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> CASE WHEN i = 1 THEN NULL ELSE md5_number_lower(ws[i-1]) END)) AS hp,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> md5_number_lower(ws[i]))) AS hc,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> CASE WHEN i < 3 THEN NULL ELSE md5_number_lower(ws[i-2] || ' ' || ws[i-1]) END)) AS hq,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> CASE WHEN i = 1 THEN NULL ELSE md5_number_lower(ws[i-1] || ' ' || ws[i]) END)) AS hb,
           |    unnest(list_transform(range(1, len(ws)+1),
           |      i -> CASE WHEN i < 3 THEN NULL ELSE md5_number_lower(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]) END)) AS ht
           |  FROM sc),
           |j AS (SELECT doc_id, hp, ht,
           |    ct.c AS c3, cq.c AS c2q, cb.c AS c2b, cp.c AS c1p,
           |    greatest(coalesce(cu.c, 1), 1) AS mc
           |  FROM srows
           |  LEFT JOIN c3 ct ON srows.ht = ct.h3
           |  LEFT JOIN c2 cq ON srows.hq = cq.h2
           |  LEFT JOIN c2 cb ON srows.hb = cb.h2
           |  LEFT JOIN c1 cp ON srows.hp = cp.h
           |  LEFT JOIN c1 cu ON srows.hc = cu.h),
           |n AS (SELECT doc_id,
           |    CASE WHEN hp IS NULL
           |      THEN CAST(round(ln(CAST(t AS DOUBLE)/mc) * 1e9) AS BIGINT)
           |    WHEN c3 IS NOT NULL
           |      THEN CAST(round(ln(CAST(c2q AS DOUBLE)/c3) * 1e9) AS BIGINT)
           |    WHEN ht IS NOT NULL AND c2b IS NOT NULL
           |      THEN CAST(round(ln(CAST(5*c1p AS DOUBLE)/(2*c2b)) * 1e9) AS BIGINT)
           |    WHEN ht IS NOT NULL
           |      THEN CAST(round(ln(CAST(25*t AS DOUBLE)/(4*mc)) * 1e9) AS BIGINT)
           |    WHEN c2b IS NOT NULL
           |      THEN CAST(round(ln(CAST(c1p AS DOUBLE)/c2b) * 1e9) AS BIGINT)
           |    ELSE CAST(round(ln(CAST(5*t AS DOUBLE)/(2*mc)) * 1e9) AS BIGINT)
           |    END AS nll,
           |    CASE WHEN (ht IS NOT NULL AND c3 IS NULL)
           |      OR (hp IS NOT NULL AND ht IS NULL AND c2b IS NULL) THEN 1 ELSE 0 END AS bo
           |  FROM j CROSS JOIN tot)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(bo) AS BIGINT) AS n_backoff,
           |  CAST(sum(nll) AS BIGINT) AS nll_nano,
           |  round(CAST(sum(nll) AS DOUBLE)/count(*)/1e9, 6) AS avg_nll
           |FROM n GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // word-bigram type/token ratio per language bucket
      "q_ngram_diversity" ->
        s"""WITH ${tokCte()},
           |g AS (SELECT lang, unnest(list_transform(range(1, len(ws)),
           |    i -> md5_number_lower(ws[i] || ' ' || ws[i+1]))) AS h
           |  FROM toks JOIN documents USING (doc_id))
           |SELECT lang, count(*) AS n_grams,
           |  count(DISTINCT h) AS n_distinct,
           |  round(CAST(count(DISTINCT h) AS DOUBLE)/count(*), 6) AS distinct_ratio
           |FROM g GROUP BY lang ORDER BY lang""".stripMargin,

      // two unrolled Lloyd's iterations; dN/aN = assignment round N,
      // sN/cN = per-(cell,dim) integer sums -> rounded centroids.
      // One oracle pins BOTH the inline-encode gate and its
      // persisted-codes serving twin (bit-equal Spark paths).
      "q_ann_pq" -> AnnPqOracle,
      "q_ann_pq_persisted" -> AnnPqOracle,

      // the TRAINING gate: codebook centroid coordinates replayed
      // bit-for-bit through the shared pq_c2 fit algebra
      "q_ann_pq_fit" ->
        (s"WITH $AnnPqCtes " +
          """SELECT CAST(sub AS BIGINT) AS sub, CAST(cell AS BIGINT) AS idx,
           |  CAST(j AS BIGINT) AS j, CAST(sq[j] AS BIGINT) AS v
           |FROM pq_c2, range(1, 17) t(j)
           |ORDER BY sub, idx, j""".stripMargin),

      // coarse centroids (c2) AND residual codebooks (pq_c2) of the
      // IVF-PQ training job, flattened to scalar rows
      "q_ann_ivfpq_fit" ->
        (s"WITH $AnnIvfPqCtes " +
          """SELECT kind, sub, idx, j, v FROM (
           |  SELECT 'coarse' AS kind, CAST(-1 AS BIGINT) AS sub,
           |    CAST(cell AS BIGINT) AS idx, CAST(j AS BIGINT) AS j,
           |    CAST(q[j] AS BIGINT) AS v
           |  FROM c2, range(1, 65) t(j)
           |  UNION ALL
           |  SELECT 'codebook' AS kind, CAST(sub AS BIGINT) AS sub,
           |    CAST(cell AS BIGINT) AS idx, CAST(j AS BIGINT) AS j,
           |    CAST(sq[j] AS BIGINT) AS v
           |  FROM pq_c2, range(1, 17) t(j))
           |ORDER BY kind, sub, idx, j""".stripMargin),

      // the stateless stream screen = the batch ADC replay over
      // EVERY row (same fit chain, no top-k)
      "q_stream_pq_screen" ->
        (s"WITH $AnnPqCtes " +
          "SELECT vec_id, adc_dist FROM pq_score ORDER BY vec_id"),

      "q_ann_ivfpq" -> AnnIvfPqOracle,
      "q_ann_ivfpq_persisted" -> AnnIvfPqOracle,
      "q_ann_ivfpq_incremental" -> AnnIvfPqOracle,
      // compaction moves bytes, never values: the 8-batch layout
      // compacted to one file per cell serves the SAME top-10
      "q_ann_ivfpq_compacted" -> AnnIvfPqOracle,
      "q_ann_ivfpq_compact_cells" -> AnnIvfPqOracle,
      "q_ann_ivfpq_refit" -> AnnIvfPqOracle,
      "q_stream_ann_ingest" -> AnnIvfPqOracle,

      // layout health: rows per coarse cell == the oracle's coarse
      // assignment counts (null vectors excluded — the layout
      // convention)
      "q_ann_layout_cells" ->
        (s"WITH $AnnIvfPqCtes " +
          """SELECT CAST(ccell AS BIGINT) AS cell,
           |  count(*) AS n_rows
           |FROM ivq WHERE rq IS NOT NULL
           |GROUP BY 1 ORDER BY cell""".stripMargin),

      // delete sync: ids vec_id % 7 == 3 left `raw`; after the repair
      // (whole-layout OR per-cell — bit-equal by contract) the refined
      // serving path answers over exactly the surviving corpus — the
      // refine algebra with the same ids removed from the candidate
      // AND re-rank stages
      "q_ann_ivfpq_repaired" -> AnnIvfPqRepairedOracle,
      "q_ann_ivfpq_repair_cells" -> AnnIvfPqRepairedOracle,

      // maintenance orchestration: fragmented tick + delete tick +
      // healthy no-op tick, then the plain ADC top-10 over the
      // survivors
      "q_ann_ivfpq_maintain" -> AnnIvfPqMaintainOracle,

      // the cosine recipe's recall band (the q_ann_ivf pattern):
      // normalization + int8 quantization are float, so the oracle
      // pins the per-query recall booleans TRUE (null embeddings
      // excluded on both sides — the gate filters them before
      // building its query set)
      "q_ann_cosine" ->
        """SELECT CAST(vec_id AS BIGINT) AS query_id, true AS recall_ok
          |FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL
          |ORDER BY query_id""".stripMargin,

      // the metadata predicate rides the same ADC chain: score only
      // label=1 rows, same top-10 algebra
      "q_ann_ivfpq_filtered" ->
        (s"WITH $AnnIvfPqCtes " +
          """SELECT s.vec_id, CAST(s.ccell AS BIGINT) AS cell, s.adc_dist
           |FROM iq_score s JOIN embeddings e ON e.vec_id = s.vec_id
           |WHERE e.label = 1
           |ORDER BY s.adc_dist, s.vec_id LIMIT 10""".stripMargin),
      "q_ann_ivfpq_refined" -> AnnIvfPqRefinedOracle,
      "q_ann_ivfpq_knn" -> AnnIvfPqKnnOracle,
      "q_ann_ivfpq_knn_refined" -> AnnIvfPqKnnRefinedOracle,

      // exact ground truth: quantize, brute-force integer L2 per
      // sampled query, (dist, id) rank — null vectors excluded on
      // both sides (the family convention)
      "q_ann_exact_knn" ->
        (s"WITH $QuantVecCtes, $ExactKnnCtes " +
          """SELECT query_id, vec_id, exact_dist, CAST(rn AS BIGINT) AS rk
           |FROM xr WHERE rn <= 5 ORDER BY query_id, rk""".stripMargin),

      // recall@5: both retrieval chains replayed (the bulk-ANN krank
      // from the shared IVF-PQ algebra; the exact xr chain), then the
      // per-query intersection counts — every column an integer
      "q_ann_recall" ->
        (s"WITH $AnnIvfPqKnnCtes, $ExactKnnCtes, " +
          """xtop AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5),
           |atop AS (SELECT qid, vec_id FROM krank WHERE rn <= 5),
           |ragg AS (SELECT t.query_id, count(*) AS n_true,
           |    count(a.vec_id) AS n_hit
           |  FROM xtop t LEFT JOIN atop a
           |    ON a.qid = t.query_id AND a.vec_id = t.vec_id
           |  GROUP BY 1)
           |SELECT query_id, n_true, n_hit,
           |  n_hit * 1000 // n_true AS recall_permille
           |FROM ragg ORDER BY query_id""".stripMargin),

      // the streaming semantic screen is stateless, so the oracle is
      // the batch replay: per-row argmin over the eval set (ties to
      // the lower eval id — the kmeans_assign convention) + the exact
      // distance + the threshold flag
      "q_stream_semantic_screen" ->
        (s"WITH $QuantVecCtes, " +
          """sse AS (SELECT vec_id AS eval_id, q FROM qv
           |  WHERE vec_id < 5 AND q IS NOT NULL),
           |ssd AS (SELECT v.vec_id, e.eval_id,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      j -> (v.q[j] - e.q[j]) * (v.q[j] - e.q[j]))) AS BIGINT) AS dist
           |  FROM qv v CROSS JOIN sse e WHERE v.q IS NOT NULL),
           |ssr AS (SELECT vec_id, eval_id, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, eval_id) AS rn
           |  FROM ssd)
           |SELECT vec_id, CAST(eval_id AS BIGINT) AS nearest_eval,
           |  dist AS exact_dist, dist <= 80000 AS contaminated
           |FROM ssr WHERE rn = 1 ORDER BY vec_id""".stripMargin),

      "q_kmeans" ->
        s"""WITH $KMeansCtes
           |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a3
           |ORDER BY vec_id""".stripMargin,

      // k-means cells composed with the md5 bottom-k sampler: the
      // semantic-balance step of a mixture recipe (cap every embedding
      // cluster at the same budget)
      "q_cluster_balance" ->
        s"""WITH $KMeansCtes,
           |b AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY
           |  ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':42'), 1, 15))::BIGINT, vec_id) AS rn
           |  FROM a3)
           |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM b WHERE rn <= 30
           |ORDER BY cell, vec_id""".stripMargin,


      "q_bm25" ->
        s"""WITH ${tokCte()}, $Bm25Ctes
           |SELECT doc_id, n_hits, score_nano FROM bm
           |ORDER BY score_nano DESC, doc_id LIMIT 25""".stripMargin,

      // reciprocal-rank fusion of the BM25 and cosine top-100 lists;
      // 1.0 is CAST to DOUBLE (DuckDB would otherwise do DECIMAL
      // division), the two-term sum order matches the Spark column
      "q_hybrid_search" ->
        s"""WITH ${tokCte()}, $Bm25Ctes, $EmbCte,
           |hqv AS (SELECT v AS qv FROM d WHERE vec_id = 0),
           |vv AS (SELECT vec_id, round(${sqlCos("d.v", "q.qv")}, 6) AS score
           |  FROM d CROSS JOIN hqv q),
           |vr AS (SELECT vec_id AS id, row_number() OVER (ORDER BY score DESC, vec_id) AS rv
           |  FROM (SELECT * FROM vv ORDER BY score DESC, vec_id LIMIT 100)),
           |lr AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score_nano DESC, doc_id) AS rl
           |  FROM (SELECT * FROM bm ORDER BY score_nano DESC, doc_id LIMIT 100)),
           |f AS (SELECT coalesce(lr.id, vr.id) AS doc_id,
           |  CAST(rl AS BIGINT) AS lex_rank, CAST(rv AS BIGINT) AS vec_rank,
           |  CAST(round((coalesce(CAST(1.0 AS DOUBLE) / (60 + rl), 0.0) +
           |              coalesce(CAST(1.0 AS DOUBLE) / (60 + rv), 0.0)) * 1e9) AS BIGINT) AS rrf_nano
           |  FROM lr FULL OUTER JOIN vr ON lr.id = vr.id)
           |SELECT doc_id, lex_rank, vec_rank, rrf_nano FROM f
           |ORDER BY rrf_nano DESC, doc_id LIMIT 20""".stripMargin,

      // quality gate (see q_ann_ivf): Spark computes the IVF-armed vs
      // brute-armed fused-top-20 overlap, the oracle pins the floor
      // decision to `true`
      "q_hybrid_ann" ->
        "SELECT CAST(20 AS BIGINT) AS k, true AS recall_ok",

      "q_dsir_weights" ->
        s"""WITH ${tokCte()}, $DsirCtes
           |SELECT doc_id, n_feats, logw_nano FROM wts ORDER BY doc_id""".stripMargin,

      "q_dsir_select" ->
        s"""WITH ${tokCte()}, $DsirCtes,
           |keyed AS (SELECT doc_id, n_feats, logw_nano,
           |  logw_nano + CAST(round(-ln(-ln(
           |    ((md5_number_lower('dsir:2042:' || CAST(doc_id AS VARCHAR)) >> 11) + 0.5)
           |      / 9007199254740992.0)) * 1e9) AS BIGINT) AS key_nano
           |  FROM wts)
           |SELECT doc_id, n_feats, logw_nano, key_nano FROM keyed
           |ORDER BY key_nano DESC, doc_id LIMIT 50""".stripMargin,

      // classifier = the DSIR log-ratio algebra with explicit labeled
      // classes (en=pos, zh=neg) and an integer-exact keep decision
      "q_classifier_score" -> ClassifierScoreOracleSql,

      // stateless scan twin over the same rows IS the batch result —
      // one oracle serves both (same pattern as q_stream_quality)
      "q_stream_classifier" -> ClassifierScoreOracleSql,

      // token identity is md5-lower-64 on BOTH engines (Spark shuffles
      // 8-byte keys; string equality and hash equality agree exactly
      // when the oracle hashes the same way)
      "q_corpus_rarity" ->
        s"""WITH ${tokCte()},
           |ex AS (SELECT doc_id, md5_number_lower(unnest(ws)) AS tok FROM toks),
           |tc AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok)
           |SELECT e.doc_id, count(*) AS n_tokens,
           |  CAST(sum(CASE WHEN tc.c <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           |  round(CAST(sum(CASE WHEN tc.c <= 100 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rare_frac
           |FROM ex e JOIN tc USING (tok) GROUP BY e.doc_id ORDER BY doc_id""".stripMargin,

      // Replays trailer extraction + numstat totals from the raw-parse
      // fixture the Spark query dumped (the git shellout itself is the
      // one layer DuckDB cannot run).
      "q_git_commits" ->
        s"""WITH raw AS (
           |  SELECT * FROM read_parquet('${graft.etl.GitSource.FixturePath}/*.parquet')),
           |agg AS (
           |  SELECT _oid, min(author) AS author, min(message) AS message,
           |         min(n_parents) AS n_parents,
           |         CAST(sum(file_added) AS BIGINT) AS added,
           |         CAST(sum(file_removed) AS BIGINT) AS removed
           |  FROM raw GROUP BY _oid)
           |SELECT _oid, author, added, removed, n_parents,
           |  CAST(len(regexp_extract_all(message, '(?m)^\\s*Signed-off-by:\\s*(.*)$$', 1)) AS BIGINT) AS n_signoffs,
           |  coalesce(array_to_string(regexp_extract_all(message, '(?m)^\\s*Signed-off-by:\\s*(.*)$$', 1), '|'), '') AS signoffs
           |FROM agg ORDER BY _oid""".stripMargin,

      "q_stratified_sample" ->
        """WITH b AS (
          |  SELECT doc_id, lang,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1042'), 1, 15))::BIGINT
          |    % 1000000 AS bucket
          |  FROM documents)
          |SELECT doc_id, lang FROM b
          |WHERE (lang = 'en' AND bucket < 500000)
          |   OR (lang = 'de' AND bucket < 1000000)
          |   OR (lang = 'zh' AND bucket < 250000)
          |ORDER BY doc_id""".stripMargin,

      "q_mixture" ->
        """WITH b AS (
          |  SELECT doc_id, lang,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':2042'), 1, 15))::BIGINT
          |    % 1000000 AS b42,
          |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':2043'), 1, 15))::BIGINT
          |    % 1000000 AS b43
          |  FROM documents)
          |SELECT doc_id, mix_source, mix_epoch FROM (
          |  SELECT doc_id, 'en' AS mix_source, 0 AS mix_epoch FROM b WHERE lang = 'en'
          |  UNION ALL
          |  SELECT doc_id, 'en', 1 FROM b WHERE lang = 'en' AND b43 < 500000
          |  UNION ALL
          |  SELECT doc_id, 'rest', 0 FROM b WHERE lang <> 'en' AND b42 < 500000)
          |ORDER BY doc_id, mix_source, mix_epoch""".stripMargin,

      // temperature mixture: per-domain weights snap to integer
      // micro-units (round(sqrt(n)*1e6) — IEEE-exact on both engines),
      // the denominator is an order-independent exact integer sum
      // (HUGEINT here, DECIMAL(38,0) in Spark) converted to double
      // once, then the same md5 slot decision as q_mixture
      "q_mixture_temp" ->
        """WITH counts AS (SELECT lang AS dom, count(*) AS n FROM documents GROUP BY lang),
          |cw AS (SELECT dom, n,
          |  CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS wn FROM counts),
          |den AS (SELECT CAST(SUM(wn) AS DOUBLE) AS den FROM cw),
          |rates AS (SELECT dom,
          |  CAST(wn * 300 AS DOUBLE) / den / CAST(n AS DOUBLE) AS rate
          |  FROM cw CROSS JOIN den),
          |r2 AS (SELECT dom, CAST(trunc(rate) AS BIGINT) AS epochs,
          |  CAST(trunc((rate - trunc(rate)) * 1000000) AS BIGINT) AS thr FROM rates),
          |b AS (SELECT doc_id, lang,
          |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':2042'), 1, 15))::BIGINT
          |  % 1000000 AS bk FROM documents),
          |tot AS (SELECT doc_id, lang,
          |  epochs + CASE WHEN bk < thr THEN 1 ELSE 0 END AS total
          |  FROM b JOIN r2 ON lang = dom)
          |SELECT doc_id, lang, CAST(unnest(range(0, total)) AS BIGINT) AS mix_epoch
          |FROM tot WHERE total > 0 ORDER BY doc_id, mix_epoch""".stripMargin,

      "q_count_min" ->
        """SELECT event_type, count(*) AS n_exact, true AS within_tol
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q_heavy_hitters" ->
        """SELECT lang, count(*) AS n FROM documents GROUP BY lang
          |HAVING count(*) > 0.2 * (SELECT count(*) FROM documents)
          |ORDER BY lang""".stripMargin,

      "q_history_linreg" -> {
        val days = (2 to 29).map(d => s"(${ts(f"2024-01-$d%02d")})").mkString(", ")
        val x0 = ts("2024-01-02")
        val fdays = ((30 to 31).map(d => ts(f"2024-01-$d%02d")) :+ ts("2024-02-01"))
          .map(d => s"($d)").mkString(", ")
        s"""$VEventsSql, grid(date) AS (SELECT * FROM (VALUES $days)),
           |h AS (SELECT g.date, count(*) AS n FROM v JOIN grid g
           |        ON v._start <= g.date AND (v._end > g.date OR v._end IS NULL)
           |      GROUP BY g.date),
           |s AS (SELECT CAST(count(*) AS DOUBLE) AS np,
           |        sum(date - $x0) AS su, sum(CAST(n AS DOUBLE)) AS sy,
           |        sum((date - $x0) * (date - $x0)) AS suu,
           |        sum((date - $x0) * CAST(n AS DOUBLE)) AS suy
           |      FROM h),
           |fit AS (SELECT (np * suy - su * sy) / (np * suu - su * su) AS slope, np, su, sy FROM s),
           |fit2 AS (SELECT slope, (sy - slope * su) / np AS icept FROM fit),
           |fc AS (SELECT fd.date,
           |        floor(greatest(icept + slope * (fd.date - $x0), 0.0) * 1000000 + 0.5) / 1000000 AS n
           |       FROM (SELECT * FROM (VALUES $fdays) t(date)) fd, fit2)
           |SELECT date, CAST(n AS DOUBLE) AS n, 'observed' AS kind FROM h
           |UNION ALL SELECT date, n, 'forecast' FROM fc
           |ORDER BY date""".stripMargin
      },

      "q_dedup_components" ->
        s"""WITH RECURSIVE ${tokCte("WHERE doc_id < 500")}, $ShingleCtes, $JaccardCtes,
           |edges AS (SELECT id_a AS u, id_b AS v FROM jacr WHERE jaccard >= 0.2),
           |sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
           |reach(id, r) AS (
           |  SELECT DISTINCT u, u FROM sym
           |  UNION
           |  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id)
           |SELECT id AS doc_id, min(r) AS component FROM reach
           |GROUP BY id ORDER BY doc_id""".stripMargin,

      // components (the q_dedup_components chain) -> group key
      // (singletons: own id) -> the q_hash_split md5 bucket algebra
      // at 0.8/0.1/0.1 — every per-row assignment replayed
      "q_leakage_split" ->
        s"""WITH RECURSIVE ${tokCte("WHERE doc_id < 500")}, $ShingleCtes, $JaccardCtes,
           |edges AS (SELECT id_a AS u, id_b AS v FROM jacr WHERE jaccard >= 0.2),
           |sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
           |reach(id, r) AS (
           |  SELECT DISTINCT u, u FROM sym
           |  UNION
           |  SELECT s.u, reach.r FROM sym s JOIN reach ON s.v = reach.id),
           |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
           |g AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS grp
           |  FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
           |  LEFT JOIN comp c ON d.doc_id = c.id),
           |b AS (SELECT doc_id, grp,
           |  ('0x' || substr(md5(CAST(grp AS VARCHAR) || ':42'), 1, 15))::BIGINT
           |    % 1000000 AS bucket FROM g)
           |SELECT doc_id, CAST(grp AS BIGINT) AS grp,
           |  CAST(CASE WHEN bucket < 800000 THEN 0 WHEN bucket < 900000 THEN 1
           |    ELSE 2 END AS INTEGER) AS split
           |FROM b ORDER BY doc_id""".stripMargin
    )
  }
}
