package graft.functions

import java.util.Arrays

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Link-graph centrality for corpus curation.
  *
  * Web-scale training corpora routinely weight documents by the link
  * importance of their host (Common-Crawl-derived rankings), so
  * centrality over an edge table is a first-class curation input
  * alongside the content-quality scores in [[TextFunctions]] /
  * [[Curation]] (the reference's metrique analysis layer has no graph
  * analytics; this extends the large-scale-pipeline surface like the
  * dedup/ANN operators do).
  *
  * '''Round shape of the iterative operators''' ([[pageRank]],
  * [[weightedPageRank]], [[personalizedPageRank]], [[labelPropagation]],
  * [[kCoreRounds]], [[kCore]]): a DataFrame goes in and a DataFrame
  * comes out, but inside, the canonicalized edges become ONE vertex
  * block per partition, as many as the edges' size estimate asks for
  * ([[blocks]]): the partition's node ids, sorted, their out-edges in
  * compressed-sparse-row arrays and an open-addressing index from id
  * to slot. One hash of a node's id picks its partition, in the build
  * and in every round. The blocks are built straight from the edge
  * rows. A round's state is one `Array[Long]` per partition aligned
  * with the block's ids. A round's messages are summed per target
  * node, and the receiving side adds them into an aligned array
  * through the index. No object per edge or node is made, and there
  * is no Catalyst planning and no AQE re-planning between rounds. The
  * block count picks one of two paths for the rounds:
  *
  *  - several blocks: the blocks are pinned, and reading the previous
  *    round is a narrow zip of arrays. A round's messages are summed on
  *    the sending side, in one primitive hash table per target
  *    partition, and shipped as one record of columns per target
  *    partition (label propagation: two such exchanges), so a map task
  *    writes at most one shuffle record per partition. The rounds are
  *    the stages of a single Spark job, each built on the driver as a
  *    few RDD steps; only [[kCore]] runs one action per round, its
  *    fixpoint test. This is the path for a graph that does not fit in
  *    one task.
  *  - one block: all rounds run inside the one task of one `map` (or
  *    `zipPartitions`) over the block, as a plain loop on arrays that
  *    calls the same per-node kernels; [[localExchange]] adds each
  *    message straight into the aligned sums. The driver builds no RDD
  *    per round, so it cleans no closure per round (Spark's closure
  *    cleaner was most of the driver's time on small graphs), and
  *    [[kCore]] runs no per-round job. The block is pinned only by the
  *    walks, which also read it in their setup job. The rounds' RDD is
  *    named `graph rounds in one task: <operator>, <rounds>`, which the
  *    storage listing and the UI show.
  *
  * Integer arithmetic uses `Math.addExact`/`multiplyExact`, so an
  * overflow fails loudly as ANSI SQL arithmetic does. [[hits]] and
  * [[triangleCounts]] are DataFrame pipelines.
  */
object Graphs {

  /** Unit ladder for [[pageRank]]'s fixed-point arithmetic: the rank
    * unit is `10^digits` per 1.0 of walk mass. Two overflow bounds
    * govern, both derived from `Σ r ≤ nNodes · 10^digits` (total mass
    * never grows — see the pageRank scaladoc):
    *
    *  - the damping multiply `d · Σr < 2^63` holds while
    *    `nNodes · d < 9e18 / 10^digits` (9e18 keeps a ~2% margin under
    *    Long.MaxValue ≈ 9.223e18);
    *  - the nano-rescaled OUTPUT `r · 10^(9-digits) ≤ nNodes · 1e9`
    *    must stay under 2^63 — a unit-INDEPENDENT `nNodes < 9e9` cap,
    *    which is why the ladder stops at micro: micro's damping bound
    *    (9e12 node·damping ≥ 9e9 nodes at d ≤ 1000) already covers
    *    every graph that can emit `rank_nano` safely, and a coarser
    *    unit could never lift the output cap.
    */
  private val Units: Seq[(String, Int)] =
    Seq(("nano", 9), ("micro", 6))

  /** Largest safe `nNodes * dampingPerMille` for the damping multiply
    * at a unit of `10^digits`.
    */
  private def unitBound(digits: Int): Long =
    9000000000000000000L / math.pow(10, digits).toLong

  /** Unit-independent node cap from the nano-rescaled output bound. */
  private val MaxNodes: Long = 9000000000L

  private def requireWalk(iterations: Int, dampingPerMille: Int, pinEvery: Int,
      unit: String): Unit = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPerMille >= 0 && dampingPerMille <= 1000,
      s"dampingPerMille must be in [0, 1000], got $dampingPerMille")
    require(pinEvery >= 1, "pinEvery must be >= 1")
    require(unit == "auto" || Units.exists(_._1 == unit),
      s"unit must be one of auto|${Units.map(_._1).mkString("|")}, got $unit")
  }

  /** A shuffle record's payload: columns of longs, one value per row. */
  private type Cols = Array[Array[Long]]

  /** One partition of a graph: its node ids (sorted), the out-edges of
    * node `ids(i)` at `nbrs(offs(i) until offs(i + 1))` (sorted,
    * distinct) with their summed `weights` (empty for an unweighted
    * graph), and the index from id to slot.
    */
  private final class Block(val ids: Array[Long], val index: LongTable,
      val offs: Array[Int], val nbrs: Array[Long], val weights: Array[Long])
      extends Serializable {
    def size: Int = ids.length
    def degree(i: Int): Int = offs(i + 1) - offs(i)
  }

  /** The partition of node `id`: the one hash of an id, used by the
    * block build and by every round.
    */
  private def owner(id: Long, parts: Int): Int =
    Math.floorMod(java.lang.Long.hashCode(id), parts)

  /** Routes a `(partition, payload)` record to that partition. */
  private final class ToPartition(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Each `(partition, payload)` record moved to its partition: a
    * shuffle, or with one partition a narrow coalesce (every record is
    * already there), which keeps the caller in its stage. The records
    * keep their key, which consumers ignore: `.values` would be one
    * more closure for the driver to clean per call.
    */
  private def shuffled(sent: RDD[(Int, Cols)], parts: Int): RDD[(Int, Cols)] =
    if (parts == 1) sent.coalesce(1) else sent.partitionBy(new ToPartition(parts))

  /** A map task's pre-combined output: one `(partition, columns)` record
    * per target partition whose table got an entry.
    */
  private def posted(tables: Array[LongTable]): Iterator[(Int, Cols)] =
    tables.indices.iterator.filter(tables(_).size > 0).map(p => (p, tables(p).columns))

  /** The vertex blocks of `edges`, built by one [[shuffled]] exchange.
    * Their number is the optimizer's size estimate of the edge columns
    * over the partition size AQE's coalescing aims at on this session,
    * clamped to `[1, spark.sql.shuffle.partitions]`; an input Spark
    * cannot size (a join, an RDD) keeps `spark.sql.shuffle.partitions`.
    * The RDD's name, shown by the storage listing and the UI, gives the
    * count and the estimate.
    *
    * Rows with a null endpoint (or weight) drop. Each map task buckets
    * its edges into primitive columns, one set per target partition;
    * the reducer builds the CSR and sorts and dedupes each node's slice.
    * Directed (`undirected = false`): every endpoint is a node, sinks
    * with an empty slice; with a `weightCol`, parallel edges sum their
    * weights (`Math.addExact`). Undirected: self loops drop and each
    * edge is kept in both directions, so every node has a neighbour.
    */
  private def blocks(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], undirected: Boolean): RDD[Block] = {
    val weighted = weightCol.isDefined
    val projected = edges.select((Seq(srcCol, dstCol) ++ weightCol).map(c => col(c).cast("long")): _*)
      .na.drop()
    val conf = edges.sparkSession.sessionState.conf
    val bytes = projected.queryExecution.optimizedPlan.stats.sizeInBytes
    val sized = bytes < conf.defaultSizeInBytes
    val parts = if (!sized) conf.numShufflePartitions else {
      val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      val target = if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) advisory
        else advisory.min(bytes / edges.sparkSession.sparkContext.defaultParallelism)
          .max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      ((bytes + target - 1) / target).max(1).min(conf.numShufflePartitions).toInt
    }
    val rows = projected.queryExecution.toRdd
    // per target partition: src, dst, weight, endpoints with no edge here
    val sent = rows.mapPartitions { it =>
      val out = Array.fill(parts, 4)(new mutable.ArrayBuilder.ofLong)
      def edge(s: Long, d: Long, w: Long): Unit = {
        val o = out(owner(s, parts))
        o(0) += s; o(1) += d
        if (weighted) o(2) += w
      }
      it.foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        if (!undirected) {
          edge(s, d, if (weighted) r.getLong(2) else 0L)
          out(owner(d, parts))(3) += d
        } else if (s != d) { edge(s, d, 0L); edge(d, s, 0L) }
      }
      out.indices.iterator.filter(p => out(p).exists(_.length > 0))
        .map(p => (p, out(p).map(_.result())))
    }
    shuffled(sent, parts).mapPartitions(it => Iterator(block(it.map(_._2).toArray, weighted)))
      .setName(s"graph blocks: $parts, edge estimate ${if (sized) s"$bytes B" else "unknown"}")
  }

  /** The CSR block of one partition's received edge columns. */
  private def block(recs: Array[Cols], weighted: Boolean): Block = {
    def concat(c: Int): Array[Long] = recs.flatMap(_(c))
    val (src, dst, ws) = (concat(0), concat(1), concat(2))
    val seen = new LongTable(1, 0, src.length)
    (src ++ concat(3)).foreach(seen.slot(_))
    val ids = seen.columns(0)
    Arrays.sort(ids)
    val n = ids.length
    val index = LongTable.of(ids)
    val slotOf = src.map(index.find(_))
    val offs = new Array[Int](n + 1)
    slotOf.foreach(i => offs(i + 1) += 1)
    for (i <- 0 until n) offs(i + 1) += offs(i)
    val fill = Arrays.copyOf(offs, n)
    val nbrs = new Array[Long](src.length)
    val w = new Array[Long](ws.length)
    for (e <- src.indices) {
      val p = fill(slotOf(e))
      nbrs(p) = dst(e)
      if (weighted) w(p) = ws(e)
      fill(slotOf(e)) += 1
    }
    // dedupe (summing weights) and sort each slice, compacting in place
    var end = 0
    for (i <- 0 until n) {
      val (from, to) = (offs(i), offs(i + 1))
      offs(i) = end
      val sums = new LongTable(1, 1, to - from)
      for (j <- from until to) sums.add(0, sums.slot(nbrs(j)), if (weighted) w(j) else 0L)
      val ks = sums.columns(0)
      Arrays.sort(ks)
      for (k <- ks) {
        nbrs(end) = k
        if (weighted) w(end) = sums.value(0, sums.find(k))
        end += 1
      }
    }
    offs(n) = end
    new Block(ids, index, offs, Arrays.copyOf(nbrs, end), Arrays.copyOf(w, math.min(end, w.length)))
  }

  /** One message shuffle of a round: each partition calls
    * `emit(block, state, send)`, and `send(node, v)` adds `v` into the
    * sending task's sum for `node` (one [[LongTable]] per target
    * partition), shipped as one record per target partition. Returns
    * each node's received sum (0 if nothing was sent to it), aligned
    * with `blocks`.
    */
  private def exchange(blocks: RDD[Block], state: RDD[Array[Long]])(
      emit: (Block, Array[Long], (Long, Long) => Unit) => Unit): RDD[Array[Long]] = {
    val parts = blocks.getNumPartitions
    val sent = blocks.zipPartitions(state) { (bs, ss) =>
      val b = bs.next()
      val sums = Array.fill(parts)(new LongTable(1, 1, b.nbrs.length / parts + 16))
      emit(b, ss.next(), (t, v) => { val m = sums(owner(t, parts)); m.add(0, m.slot(t), v) })
      posted(sums)
    }
    blocks.zipPartitions(shuffled(sent, parts)) { (bs, msgs) =>
      val b = bs.next()
      val c = new Array[Long](b.size)
      msgs.foreach { case (_, Array(ts, vs)) =>
        for (j <- ts.indices) {
          val i = b.index.find(ts(j))
          c(i) = Math.addExact(c(i), vs(j))
        }
      }
      Iterator(c)
    }
  }

  /** [[exchange]] within one block, for the rounds that run inside one
    * task: `send(node, v)` adds `v` straight into `node`'s received sum.
    */
  private def localExchange(b: Block, state: Array[Long])(
      emit: (Block, Array[Long], (Long, Long) => Unit) => Unit): Array[Long] = {
    val c = new Array[Long](b.size)
    emit(b, state, (t, v) => { val i = b.index.find(t); c(i) = Math.addExact(c(i), v) })
    c
  }

  /** The one-partition `rounds` RDD, named for the storage listing and
    * the UI as the result of rounds run inside one task.
    */
  private def inTask[T](rounds: RDD[T], operator: String, count: String): RDD[T] =
    rounds.setName(s"graph rounds in one task: $operator, $count")

  /** `iterations` synchronous rounds of the damped walk over `blocks`,
    * `seeds(v)` being 1 for a seed node and 0 otherwise:
    *
    * {{{ r₀(v) = seeds(v)·u,   rᵢ₊₁(v) = seeds(v)·base + (d · Σ contributions into v) div 1000 }}}
    *
    * where `send(block, slot, r, out)` sends the contributions of a
    * node of rank `r > 0` with out-edges (a zero rank sends nothing: it
    * would send zeros). With one block, all rounds run in its one task
    * and nothing is pinned. Otherwise each round is one [[exchange]], and
    * every `pinEvery`-th round's ranks are pinned as they are computed,
    * so a lost block recomputes at most `pinEvery` rounds, and no round
    * waits on a job. Returns the final ranks, not yet computed, and the
    * pins they hold.
    */
  private def walk(operator: String, blocks: RDD[Block], seeds: RDD[Array[Long]],
      iterations: Int, pinEvery: Int, u: Long, base: Long, d: Long)(
      send: (Block, Int, Long, (Long, Long) => Unit) => Unit): (RDD[Array[Long]], Set[Int]) = {
    def emit(b: Block, r: Array[Long], out: (Long, Long) => Unit): Unit =
      for (v <- 0 until b.size) if (r(v) != 0L && b.degree(v) > 0) send(b, v, r(v), out)
    def next(c: Array[Long], s: Array[Long]): Array[Long] =
      Array.tabulate(c.length)(v => Math.addExact(s(v) * base, Math.multiplyExact(d, c(v)) / 1000L))
    if (blocks.getNumPartitions == 1) {
      val ranks = blocks.zipPartitions(seeds) { (bs, ss) =>
        val (b, s) = (bs.next(), ss.next())
        var r = s.map(_ * u)
        for (_ <- 1 to iterations) r = next(localExchange(b, r)(emit), s)
        Iterator(r)
      }
      (inTask(ranks, operator, s"$iterations rounds"), Set.empty)
    } else {
      var ranks = seeds.map(_.map(_ * u))
      var pins = Set.empty[Int]
      for (i <- 1 to iterations) {
        val sums = exchange(blocks, ranks)(emit)
        val (r, ids) = pinRound(sums.zipPartitions(seeds) { (cs, ss) =>
          Iterator(next(cs.next(), ss.next()))
        }, i, iterations, pinEvery)
        ranks = r
        pins ++= ids
      }
      (ranks, pins)
    }
  }

  /** Every node a seed: the global walk's seed flags. */
  private def allSeeds(blocks: RDD[Block]): RDD[Array[Long]] =
    blocks.map(b => Array.fill(b.size)(1L))

  /** Pin round `i`'s state when `i` is a `pinEvery`-th round before the
    * last one (the last round's output is pinned by [[result]]).
    */
  private def pinRound[T](state: RDD[T], i: Int, iterations: Int,
      pinEvery: Int): (RDD[T], Set[Int]) =
    if (i % pinEvery == 0 && i < iterations) Pins.pinRdd(state) else (state, Set.empty)

  /** Reads a partition to its end, which fills any pin it computes. */
  private def drain(it: Iterator[_]): Unit = while (it.hasNext) it.next()

  /** Pin the `(node ids, values)` columns `out` and run the ONE job
    * that computes them — every round still pending becomes a stage of
    * that job — then release `held` and return `(node, <field>)` over
    * the pinned columns, with the pin registered for [[unpin]]. `node`
    * is nullable exactly when an endpoint column of `edges` is, as the
    * result schema has always carried it.
    */
  private def result(edges: DataFrame, srcCol: String, dstCol: String,
      out: RDD[(Array[Long], Array[Long])], field: StructField, held: Set[Int]): DataFrame = {
    val spark = edges.sparkSession
    val (pinned, outPins) = Pins.pinRdd(out)
    // not count(): the driver cleans a job's function by reading its class, and RDD's is large
    spark.sparkContext.runJob(pinned, drain _)
    Pins.release(spark.sparkContext, held)
    val nodeNullable = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .schema.exists(_.nullable)
    val df = spark.createDataFrame(
      pinned.flatMap { case (ns, xs) => ns.indices.iterator.map(i => Row(ns(i), xs(i))) },
      StructType(Seq(StructField("node", LongType, nodeNullable), field)))
    Pins.register(df, outPins)
    df
  }

  /** The finest unit of the ladder whose damping (or weight) multiply
    * provably fits `load`, or the forced `unit` validated against it.
    */
  private def unitDigits(unit: String, load: Long, tooBig: => String,
      forcedTooBig: (String, Long) => String): Int = unit match {
    case "auto" =>
      val found = Units.collectFirst { case (_, dg) if load < unitBound(dg) => dg }
      require(found.isDefined, tooBig)
      found.get
    case name =>
      val dg = Units.find(_._1 == name).get._2
      require(load < unitBound(dg), forcedTooBig(name, unitBound(dg)))
      dg
  }

  /** Final ranks in the selected unit, rescaled to nano (exact integer
    * multiply by `10^(9-digits)`) so the output schema is unit-agnostic.
    */
  private def rankResult(edges: DataFrame, srcCol: String, dstCol: String,
      blocks: RDD[Block], ranks: RDD[Array[Long]], digits: Int, held: Set[Int]): DataFrame = {
    val toNano = math.pow(10, 9 - digits).toLong
    val out = blocks.zipPartitions(ranks) { (bs, rs) =>
      Iterator((bs.next().ids, rs.next().map(Math.multiplyExact(_, toNano))))
    }
    result(edges, srcCol, dstCol, out, StructField("rank_nano", LongType), held)
  }

  /** A node's out-edges split its rank evenly (truncating). */
  private def evenSplit(b: Block, v: Int, r: Long, out: (Long, Long) => Unit): Unit = {
    val q = r / b.degree(v)
    for (j <- b.offs(v) until b.offs(v + 1)) out(b.nbrs(j), q)
  }

  /** Fixed-iteration PageRank in integer fixed-point units —
    * bit-identical across engines, so the gate oracle replays it
    * exactly.
    *
    * Formulation: the classic non-normalized damped walk in a unit of
    * `U = 10^digits` per 1.0 — `r₀ = U` for every node and
    *
    * {{{ rᵢ₊₁(v) = (1000 - d)·(U div 1000)  +  (d · Σ_{(u,v)∈E} rᵢ(u) div deg(u)) div 1000 }}}
    *
    * with `d = dampingPerMille` (default 850 = 0.85). Every term is a
    * non-negative BIGINT and both divisions are truncating integer
    * division — Spark's `div` and DuckDB's `//` agree on non-negative
    * operands (truncation == floor there), which is what makes the
    * chained-CTE oracle exact. Dangling nodes (no out-edges) simply
    * leak their mass, the standard simple-variant behavior; nodes with
    * no in-edges settle at `(1000-d)·(U div 1000)`.
    *
    * '''Unit selection''' (`unit` param): `"auto"` picks the finest
    * unit whose damping multiply provably cannot overflow —
    * `Σ r ≤ nNodes·U` (total mass is non-increasing: the damped sum
    * redistributes ≤ Σr and the base term re-injects exactly what
    * damping removed, minus truncation), so `d·Σr < 2^63` holds while
    * `nNodes·d < 9e18/U`. That is ~10.6M nodes at nano (d=850) and
    * ~9B at micro (where the unit-independent `rank_nano` output
    * bound, not damping, caps the ladder — see [[Units]]); web-scale
    * host graphs (~1e8-1e9 nodes) land in micro. The result column is
    * ALWAYS `rank_nano` (the unit result rescaled by `10^(9-digits)`,
    * exact in integers), so downstream code is unit-agnostic and only
    * the least-significant digits of precision vary. A forced
    * `"nano"|"micro"` is validated against the same bounds and fails
    * loud.
    *
    * Jobs: one setup job builds and pins the vertex blocks and counts
    * their nodes for the unit choice; one more runs all `iterations`
    * rounds and pins the result. With one block that job is one task,
    * which runs the rounds as a loop (see [[Graphs]]). With several,
    * each round is one shuffle, built on the driver as a few RDD steps,
    * and every `pinEvery`-th round is pinned, so a lost block recomputes
    * at most `pinEvery` rounds; it adds no job. With one block
    * `pinEvery` is validated but pins nothing: a lost result block
    * recomputes the one task from the pinned vertex block.
    *
    * @return `(node bigint, rank_nano bigint)` — one row per distinct
    *         endpoint of `edges`.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      dampingPerMille: Int = 850,
      pinEvery: Int = 1,
      unit: String = "auto"): DataFrame = {
    requireWalk(iterations, dampingPerMille, pinEvery, unit)
    val (blk, blkPins) = Pins.pinRdd(blocks(edges, srcCol, dstCol, None, undirected = false))
    val nNodes = blk.map(_.size.toLong).fold(0L)(_ + _)
    require(nNodes < MaxNodes,
      s"pageRank: $nNodes nodes exceed the ~9e9 cap from the rank_nano " +
        "output bound (rank * 1e9 must stay under 2^63)")
    // the micro damping bound (9e12 node·damping) is implied by the
    // MaxNodes cap at d <= 1000, so auto always finds a unit here
    val digits = unitDigits(unit, nNodes * math.max(dampingPerMille, 1).toLong, "",
      (name, bound) => s"pageRank: $nNodes nodes would overflow the $name-unit " +
        s"damping multiply (bound $bound node·damping) — use unit=\"auto\"")
    val u = math.pow(10, digits).toLong
    val d = dampingPerMille.toLong
    val (ranks, pins) = walk("pageRank", blk, allSeeds(blk), iterations, pinEvery,
      u, (1000L - d) * (u / 1000L), d)(evenSplit)
    rankResult(edges, srcCol, dstCol, blk, ranks, digits, blkPins ++ pins)
  }

  /** Release the cached blocks behind a [[pageRank]] result; no-op
    * for any other frame (and when a reliable checkpoint dir made the
    * pins file-backed — see [[Pins]]).
    */
  def unpin(df: DataFrame): Unit = Pins.unpin(df)

  /** [[pageRank]] over WEIGHTED edges — transition probability
    * proportional to integer edge weight (link multiplicity, crawl
    * frequency, trust score). The per-edge contribution becomes
    *
    * {{{ (rᵢ(u) · w(u,v)) div W(u) }}}
    *
    * with `W(u) = Σ w(u,·)`; truncating division keeps total mass
    * non-increasing exactly as in the unweighted walk, so the same
    * unit-ladder argument holds with one extra multiply to guard:
    * `r · w < 2^63` needs `nNodes · maxW < 9e18 / U`, so the auto
    * unit selects on `nNodes · max(dampingPerMille, maxW)` (the setup
    * job's node count and weight range, which also rejects weights
    * < 1 loud — a zero or negative weight is a caller bug, not a
    * silent drop). Parallel edges merge by SUMMING weights (the natural
    * multiplicity semantics the unweighted walk's `distinct`
    * deliberately discards); null endpoints/weights drop.
    *
    * Jobs as in [[pageRank]] (the rounds in one task with one block, one
    * shuffle per round between several), over blocks that carry each
    * out-edge's summed weight.
    */
  def weightedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int,
      dampingPerMille: Int = 850,
      pinEvery: Int = 1,
      unit: String = "auto"): DataFrame = {
    requireWalk(iterations, dampingPerMille, pinEvery, unit)
    val (blk, blkPins) = Pins.pinRdd(
      blocks(edges, srcCol, dstCol, Some(weightCol), undirected = false))
    def total(b: Block, v: Int): Long =
      (b.offs(v) until b.offs(v + 1)).foldLeft(0L)((t, j) => Math.addExact(t, b.weights(j)))
    // (nodes, merged edges, min weight, max weight) in the setup job,
    // which also fails loud if a node's total weight overflows
    val (nNodes, nEdges, minW, maxW) = blk.map { b =>
      (0 until b.size).foreach(total(b, _))
      (b.size.toLong, b.weights.length.toLong, b.weights.minOption.getOrElse(Long.MaxValue),
        b.weights.maxOption.getOrElse(Long.MinValue))
    }.fold((0L, 0L, Long.MaxValue, Long.MinValue)) { case ((n1, m1, lo1, hi1), (n2, m2, lo2, hi2)) =>
      (n1 + n2, m1 + m2, math.min(lo1, lo2), math.max(hi1, hi2))
    }
    require(nNodes < MaxNodes,
      s"weightedPageRank: $nNodes nodes exceed the ~9e9 cap from the " +
        "rank_nano output bound")
    require(nEdges > 0 && minW >= 1L,
      s"weightedPageRank: weights must be >= 1 (got min ${
        if (nEdges == 0) "none" else minW.toString})")
    val load = nNodes * math.max(math.max(dampingPerMille, 1).toLong, maxW)
    val digits = unitDigits(unit, load,
      s"weightedPageRank: $nNodes nodes x max weight $maxW overflow even " +
        s"the micro unit (bound ${unitBound(6)} node·weight) — rescale weights",
      (name, bound) => s"weightedPageRank: $nNodes nodes x max weight $maxW would " +
        s"overflow the $name unit (bound $bound) — use unit=\"auto\"")
    val u = math.pow(10, digits).toLong
    val d = dampingPerMille.toLong
    val (ranks, pins) = walk("weightedPageRank", blk, allSeeds(blk), iterations, pinEvery,
      u, (1000L - d) * (u / 1000L), d) { (b, v, r, out) =>
      val w = total(b, v)
      for (j <- b.offs(v) until b.offs(v + 1))
        out(b.nbrs(j), Math.multiplyExact(r, b.weights(j)) / w)
    }
    rankResult(edges, srcCol, dstCol, blk, ranks, digits, blkPins ++ pins)
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * restricted to a SEED set (Haveliwala 2002, "Topic-sensitive
    * PageRank"). The standard trusted-seed expansion tool for crawl
    * curation: seed the walk at known-good hosts and the rank measures
    * link proximity to the trusted core, which a global PageRank
    * (where a spam farm can bootstrap its own mass) cannot.
    *
    * Same exact-integer recurrence as [[pageRank]] with the base term
    * and initial mass gated on seed membership:
    *
    * {{{
    * r₀(v)   = [v ∈ S] · U
    * rᵢ₊₁(v) = [v ∈ S]·(1000-d)·(U div 1000) + (d · Σ_{(u,v)∈E} rᵢ(u) div deg(u)) div 1000
    * }}}
    *
    * Total mass is bounded by `|S| · U` (the same non-increasing
    * argument as the global walk, summed over seeds only), so the
    * unit ladder bounds scale with the SEED count, not the node
    * count: nano holds to ~10.6M seeds at d=850 on a graph of ANY
    * size, and the `rank_nano` output cap is `|S| < 9e9`. Non-seed
    * nodes the walk never reaches stay at exactly 0 (they are
    * reported — the zero is a signal: no link path from the trusted
    * core within `iterations` hops).
    *
    * Only nodes with a non-zero rank send contributions, so early
    * rounds shuffle only the reached FRONTIER (seeds, then their k-hop
    * neighborhood) — integer-exact (a zero rank contributes zero) and
    * what makes seeded walks cheap on web-scale graphs. The seed ids
    * reach their blocks by one more exchange in the setup job (a
    * shuffle only between several blocks), as a pinned 0/1 flag array
    * per partition; otherwise the jobs are [[pageRank]]'s.
    *
    * @param seeds frame whose `seedCol` holds the seed node ids;
    *              ids not present in the graph are ignored.
    * @return `(node bigint, rank_nano bigint)` — one row per distinct
    *         endpoint of `edges`.
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int,
      dampingPerMille: Int = 850,
      pinEvery: Int = 1,
      unit: String = "auto"): DataFrame = {
    requireWalk(iterations, dampingPerMille, pinEvery, unit)
    val (blk, blkPins) = Pins.pinRdd(blocks(edges, srcCol, dstCol, None, undirected = false))
    val parts = blk.getNumPartitions
    val sent = seeds.select(col(seedCol).cast("long")).na.drop().queryExecution.toRdd
      .mapPartitions { it =>
        val out = Array.fill(parts)(new LongTable(1, 0, 16))
        it.foreach { r => val s = r.getLong(0); out(owner(s, parts)).slot(s) }
        posted(out)
      }
    val (flags, flagPins) = Pins.pinRdd(blk.zipPartitions(shuffled(sent, parts)) { (bs, recs) =>
      val b = bs.next()
      val f = new Array[Long](b.size)
      recs.foreach(_._2(0).foreach { s => val v = b.index.find(s); if (v >= 0) f(v) = 1L })
      Iterator(f)
    })
    // the ladder bounds scale with SEED mass, not graph size
    val nSeeds = flags.map(_.sum).fold(0L)(_ + _)
    require(nSeeds >= 1, "personalizedPageRank: no seed id occurs in the graph")
    require(nSeeds < MaxNodes,
      s"personalizedPageRank: $nSeeds seeds exceed the ~9e9 cap from the " +
        "rank_nano output bound (rank * 1e9 must stay under 2^63)")
    val digits = unitDigits(unit, nSeeds * math.max(dampingPerMille, 1).toLong, "",
      (name, bound) => s"personalizedPageRank: $nSeeds seeds would overflow the " +
        s"$name-unit damping multiply (bound $bound seed·damping) — use unit=\"auto\"")
    val u = math.pow(10, digits).toLong
    val d = dampingPerMille.toLong
    val (ranks, pins) = walk("personalizedPageRank", blk, flags, iterations, pinEvery,
      u, (1000L - d) * (u / 1000L), d)(evenSplit)
    rankResult(edges, srcCol, dstCol, blk, ranks, digits, blkPins ++ flagPins ++ pins)
  }

  /** Fixed-round k-core peeling over an undirected edge table —
    * `rounds` synchronous rounds of "drop every node with current
    * degree < k" (Seidman 1983 coreness, the standard
    * well-embeddedness signal: a host in a high k-core is held by k
    * mutually-supporting neighbors, which isolated spam rings and
    * pendant mirror farms are not). Synchronous fixed-round peeling
    * is the replayable contract (same design as [[pageRank]] /
    * [[labelPropagation]]): every round recomputes degrees over the
    * surviving subgraph and drops ALL sub-k nodes at once, so a SQL
    * oracle chains the rounds verbatim. [[kCore]] runs the same
    * peel to the true fixpoint.
    *
    * Input is canonicalized like [[labelPropagation]] (nulls/self
    * loops dropped, duplicates collapsed, symmetrized). The round
    * state is each node's degree in the surviving subgraph, 0 once it
    * is removed. In a round, each removed node sends one message to
    * each of its neighbours (one exchange), and the survivors subtract
    * what they received; a node left without neighbours drops out.
    * All `rounds` rounds run in one job: with one block, in its one
    * task, reading the vertex block once, so it is not pinned; with
    * several, one shuffle per round.
    *
    * @return `(node, degree)` for nodes surviving all rounds, with
    *         degree measured IN the surviving subgraph. A node whose
    *         residual degree is still < k after `rounds` rounds
    *         survives only the fixpoint-unreached prefix — run
    *         [[kCore]] for the exact core.
    */
  def kCoreRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int): DataFrame =
    kCorePeel(edges, srcCol, dstCol, k, Some(rounds))

  /** Exact k-core: [[kCoreRounds]] run to the fixpoint; a round that
    * would remove no node ends the loop, so it terminates in at most
    * |V| rounds and real graphs settle in a handful. With one block the
    * loop runs inside the one task of the result job and no job runs
    * per round. With several, one job per round counts the nodes the
    * next round would remove (it also computes and pins the round) —
    * no row data is collected.
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int): DataFrame =
    kCorePeel(edges, srcCol, dstCol, k, None)

  private def kCorePeel(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Option[Int]): DataFrame = {
    require(k >= 1, "k must be >= 1")
    rounds.foreach(r => require(r >= 1, "rounds must be >= 1"))
    val built = blocks(edges, srcCol, dstCol, None, undirected = true)
    // the state is each node's degree in the surviving subgraph; 0 = removed
    def degrees(b: Block): Array[Long] = Array.tabulate(b.size)(b.degree(_).toLong)
    def doomed(s: Array[Long]): Int = s.count(x => x > 0 && x < k)
    def peel(b: Block, s: Array[Long], out: (Long, Long) => Unit): Unit =
      for (v <- 0 until b.size) if (s(v) > 0 && s(v) < k)
        for (j <- b.offs(v) until b.offs(v + 1)) out(b.nbrs(j), 1L)
    def settle(s: Array[Long], lost: Array[Long]): Array[Long] =
      Array.tabulate(s.length)(v => if (s(v) >= k) s(v) - lost(v) else 0L)
    def live(b: Block, s: Array[Long]): (Array[Long], Array[Long]) = {
      val live = s.indices.filter(s(_) > 0)
      (live.map(b.ids(_)).toArray, live.map(s(_)).toArray)
    }
    val (out, held) = if (built.getNumPartitions == 1) {
      val peeled = built.map { b =>
        var s = degrees(b)
        var round = 0
        while (rounds.fold(doomed(s) > 0)(round < _)) {
          s = settle(s, localExchange(b, s)(peel))
          round += 1
        }
        live(b, s)
      }
      (inTask(peeled, if (rounds.isEmpty) "kCore" else "kCoreRounds",
        rounds.fold("to the fixpoint")(r => s"$r rounds")), Set.empty[Int])
    } else {
      val (blk, blkPins) = Pins.pinRdd(built)
      var deg = blk.map(degrees)
      var pins = Set.empty[Int]
      def anyDoomed(s: RDD[Array[Long]]): Boolean = s.map(doomed(_).toLong).fold(0L)(_ + _) > 0
      var round = 0
      var more = rounds.isDefined || anyDoomed(deg)
      while (more) {
        val lost = exchange(blk, deg)(peel)
        val (next, nextPins) = Pins.pinRdd(deg.zipPartitions(lost) { (ss, ls) =>
          Iterator(settle(ss.next(), ls.next()))
        })
        round += 1
        more = rounds.fold(anyDoomed(next))(round < _)
        // to the fixpoint, `next` is computed and pinned by now, so the
        // previous round's pin can go; fixed rounds hold every pin until
        // the result job
        if (rounds.isEmpty) Pins.release(edges.sparkSession.sparkContext, pins)
        pins = if (rounds.isEmpty) nextPins else pins ++ nextPins
        deg = next
      }
      (blk.zipPartitions(deg)((bs, ss) => Iterator(live(bs.next(), ss.next()))), blkPins ++ pins)
    }
    result(edges, srcCol, dstCol, out, StructField("degree", LongType, nullable = false), held)
  }

  /** Label propagation's total order on `(count, label)`: the higher
    * count wins, then the smaller label.
    */
  private def beats(c: Long, l: Long, bestC: Long, bestL: Long): Boolean =
    c > bestC || (c == bestC && l < bestL)

  /** Label propagation's votes from block `b` at labels `l`: each node's
    * label to each neighbour, counted per `(node, label)` and bucketed
    * by a hash of the pair over `parts` partitions.
    */
  private def vote(b: Block, l: Array[Long], parts: Int): Iterator[(Int, Cols)] = {
    val counts = Array.fill(parts)(new LongTable(2, 1, b.nbrs.length / parts + 16))
    for (v <- 0 until b.size; j <- b.offs(v) until b.offs(v + 1)) {
      val t = b.nbrs(j)
      val m = counts(Math.floorMod(31 * java.lang.Long.hashCode(t) +
        java.lang.Long.hashCode(l(v)), parts))
      m.add(0, m.slot(t, l(v)), 1L)
    }
    posted(counts)
  }

  /** The `(node, label, count)` votes of one bucket summed, then each
    * node's best `(label, count)` among them, bucketed by its block.
    */
  private def elect(recs: Iterator[(Int, Cols)], parts: Int): Iterator[(Int, Cols)] = {
    val counts = new LongTable(2, 1, 64)
    recs.foreach { case (_, Array(ts, ls, cs)) =>
      for (j <- ts.indices) counts.add(0, counts.slot(ts(j), ls(j)), cs(j))
    }
    val best = Array.fill(parts)(new LongTable(1, 2, counts.size / parts + 16))
    for (s <- 0 until counts.size) {
      val (t, l, c) = (counts.key(s), counts.key(s, 1), counts.value(0, s))
      val m = best(owner(t, parts))
      val x = m.slot(t)
      if (beats(c, l, m.value(1, x), m.value(0, x))) { m.set(0, x, l); m.set(1, x, c) }
    }
    posted(best)
  }

  /** Each node of `b` takes its best label over `(node, label, count)`
    * records: the elected ones, or with one block the votes themselves.
    */
  private def adopt(b: Block, recs: Iterator[(Int, Cols)]): Array[Long] = {
    val (bestC, bestL) = (new Array[Long](b.size), new Array[Long](b.size))
    recs.foreach { case (_, Array(ts, ls, cs)) =>
      for (j <- ts.indices) {
        val v = b.index.find(ts(j))
        if (beats(cs(j), ls(j), bestC(v), bestL(v))) { bestC(v) = cs(j); bestL(v) = ls(j) }
      }
    }
    bestL
  }

  /** Deterministic synchronous label propagation — community
    * detection over an undirected edge table (Raghavan, Albert &
    * Kumara 2007, "Near linear time algorithm to detect community
    * structures in large-scale networks"). The curation use is the
    * complement of [[pageRank]]: PageRank scores individual hosts,
    * LPA groups them — link-farm rings and mirror clusters surface as
    * communities whose aggregate quality stats (spam score, dup rate)
    * then gate every member at once.
    *
    * Determinism (the property the published algorithm lacks): updates
    * are SYNCHRONOUS (round i+1 reads only round i's labels — no
    * visit-order dependence) and the tie-break is total — each node
    * takes the label with the highest neighbor count, smallest label
    * winning ties:
    *
    * {{{ labelᵢ₊₁(v) = argmax_{l} ( |{u ∈ N(v) : labelᵢ(u) = l}| , -l ) }}}
    *
    * with `label₀(v) = v`. Every comparison is integer, so a SQL
    * engine replays the rounds exactly (the gate oracle does, via
    * per-round `row_number() OVER (ORDER BY c DESC, label ASC)`).
    * Synchronous LPA can 2-cycle on bipartite regions rather than
    * converge — the fixed `iterations` contract (same as
    * [[pageRank]]) makes that a defined, replayable output, and in
    * curation practice a fixed small round count is what's run anyway
    * (labels stabilize within a few hops for the dense clusters that
    * matter).
    *
    * Input edges are canonicalized: null/self-loop rows dropped,
    * duplicates collapsed, and each edge voted in BOTH directions
    * (pass a directed table and it is treated as its undirected
    * support). Each round aggregates the votes in two shuffles: vote
    * counts keyed `(node, label)`, summed on the sending side and
    * routed by a hash of the pair, then each node's best
    * `(count, label)`, pre-combined on the sending side and routed to
    * the node's block. The first level keeps the shape skew-safe: a
    * hub's degree-many distinct votes spread over reducers by label
    * before one `(count, label)` per reducer reaches the hub's block.
    * With one block there is no exchange: each round counts the votes
    * in one table and every node takes its best label from it, all
    * rounds inside one task that reads the vertex block once, so it is
    * not pinned. All rounds run in one job either way; `pinEvery` is
    * [[pageRank]]'s, except that with one block a lost result block
    * recomputes the one task from the edges. Labels
    * never grow (they are node ids), so there is no overflow ladder to
    * manage — this runs at any node count.
    *
    * @return `(node bigint, label bigint)` — one row per distinct
    *         endpoint; `label` is the community representative's id.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      pinEvery: Int = 1): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(pinEvery >= 1, "pinEvery must be >= 1")
    // every node has >= 1 neighbour, so every node gets a vote each round
    val built = blocks(edges, srcCol, dstCol, None, undirected = true)
    val parts = built.getNumPartitions
    val (out, held) = if (parts == 1) {
      val labelled = built.map { b =>
        var l = b.ids
        for (_ <- 1 to iterations) l = adopt(b, vote(b, l, 1))
        (b.ids, l)
      }
      (inTask(labelled, "labelPropagation", s"$iterations rounds"), Set.empty[Int])
    } else {
      val (blk, blkPins) = Pins.pinRdd(built)
      var labels = blk.map(_.ids)
      var pins = blkPins
      for (i <- 1 to iterations) {
        val votes = blk.zipPartitions(labels)((bs, ls) => vote(bs.next(), ls.next(), parts))
        val bests = shuffled(votes, parts).mapPartitions(elect(_, parts))
        val next = blk.zipPartitions(shuffled(bests, parts)) { (bs, recs) =>
          Iterator(adopt(bs.next(), recs))
        }
        val (l, ids) = pinRound(next, i, iterations, pinEvery)
        labels = l
        pins ++= ids
      }
      (blk.zipPartitions(labels)((bs, ls) => Iterator((bs.next().ids, ls.next()))), pins)
    }
    result(edges, srcCol, dstCol, out, StructField("label", LongType), held)
  }

  /** Fixed-iteration HITS (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment") in integer fixed-point — hubs and
    * authorities over a DIRECTED edge table. The curation signal
    * PageRank misses: a page can be an authority (linked by good
    * hubs) without itself linking anywhere, and directory/spam hubs
    * score high as hubs while staying low-authority — the two axes
    * separate link roles that a single random-walk score conflates.
    *
    * Arithmetic: scores live in micro units (1e6 = the per-round
    * maximum). Each iteration is the classic mutual recursion with a
    * truncating max-rescale after each half-step:
    *
    * {{{
    * rawA(v) = Σ_{(u,v)∈E} h(u);   a(v) = rawA(v) div max(1, ceil(max(rawA) / 1e6))
    * rawH(u) = Σ_{(u,v)∈E} a(v);   h(u) = rawH(u) div max(1, ceil(max(rawH) / 1e6))
    * }}}
    *
    * with `h₀ = 1e6` everywhere. The rescale divisor is derived with
    * integer ceiling division `(m + 1e6 - 1) div 1e6`, so every score
    * stays in `[0, 1e6]`, every raw sum is bounded by
    * `nNodes · 1e6 < 2^63` (loud `require` at 9e12 nodes — far past
    * any real host graph), and the whole chain is exact integer
    * arithmetic a SQL oracle replays verbatim. Max-rescaling (vs the
    * textbook L2 norm) keeps it integer-exact; the INDUCED RANKING is
    * what curation consumes and it is unaffected by the norm choice
    * up to the 1e-6 truncation granularity.
    *
    * Scale shape: the edge table is pinned twice, pre-partitioned on
    * `src` (the authority-step probe) and on `dst` (the hub-step
    * probe), so both half-step joins are co-partitioned every round;
    * score frames carry 16-byte rows. The per-half-step max is a
    * scalar aggregate over the just-pinned raw frame (a bounded
    * 1-row collect, same economics as the pin barrier itself).
    *
    * @return `(node, hub_micro, auth_micro)` — one row per distinct
    *         endpoint; sources that nothing links to have
    *         `auth_micro = 0`, sinks that link nowhere `hub_micro = 0`.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val U = 1000000L
    val cleaned = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // LAZY setup pins: the nNodes count materializes nodes + eBySrc in
    // one job; eByDst fuses into the first hub half-step's pin job
    val (eBySrc, eSrcPins) = Pins.pin(cleaned.repartition(col("src")), eager = false)
    val (eByDst, eDstPins) = Pins.pin(cleaned.repartition(col("dst")), eager = false)
    val (nodes, nodePins) = Pins.pin(eBySrc.select(col("src").as("node"))
      .unionByName(eBySrc.select(col("dst").as("node")))
      .distinct(), eager = false)
    val nNodes = nodes.count()
    require(nNodes > 0, "hits: no edges (empty or all-null edge input)")
    require(nNodes < 9000000000000L,
      s"hits: $nNodes nodes exceed the 9e12 cap (raw sums must stay under 2^63)")

    // truncating max-rescale of a (node, raw) frame into [0, U]: pin
    // raw (both the max aggregate and the rescale projection read the
    // cache — unpinned, the whole half-step subtree would run twice),
    // collect the 1-row max, divide by its ceiling ratio to U
    def rescale(raw: DataFrame, outCol: String): (DataFrame, Set[Int]) = {
      // LAZY pin: the 1-row max aggregate below is the first action and
      // covers every partition, so the half-step materializes INSIDE
      // that job instead of paying a separate eager one — 2 jobs per
      // iteration instead of 4 (measured ~25% off the walk's floor)
      val (pinnedRaw, rawPins) = Pins.pin(raw, eager = false)
      val m = pinnedRaw.agg(max(col("raw"))).head.getLong(0)
      val d = math.max((m + U - 1) / U, 1L)
      // `div` (truncating integer division), NOT `/` — the double
      // division loses exactness once raw exceeds 2^53
      (pinnedRaw.select(col("node"), expr(s"raw div ${d}L").as(outCol)), rawPins)
    }

    var hubs = nodes.withColumn("h", lit(U))
    var auths: DataFrame = null
    var hubPins = Set.empty[Int]
    var authPins = Set.empty[Int]
    var i = 0
    while (i < iterations) {
      // authority half-step: in-edge sum of hub scores; every node
      // also sends itself a zero row, which keeps no-in-edge nodes
      // present without a second join
      val rawA = eBySrc.join(hubs, eBySrc("src") === hubs("node"))
        .select(col("dst").as("node"), col("h").as("c"))
        .unionByName(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy("node").agg(sum(col("c")).as("raw"))
      val (a, aPins) = rescale(rawA, "a")
      if (auths != null) Pins.release(auths, authPins)
      auths = a
      authPins = aPins
      // hub half-step: out-edge sum of the JUST-rescaled authorities
      val rawH = eByDst.join(auths, eByDst("dst") === auths("node"))
        .select(eByDst("src").as("node"), col("a").as("c"))
        .unionByName(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy("node").agg(sum(col("c")).as("raw"))
      val (h, hPins) = rescale(rawH, "h")
      Pins.release(hubs, hubPins)
      hubs = h
      hubPins = hPins
      i += 1
    }
    Pins.release(eBySrc, eSrcPins)
    Pins.release(eByDst, eDstPins)
    Pins.release(nodes, nodePins)
    val out = hubs.join(auths, "node")
      .select(col("node"), col("h").as("hub_micro"), col("a").as("auth_micro"))
    Pins.register(out, hubPins ++ authPins)
    out
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge table — the second host-graph quality signal
    * next to [[pageRank]] (a spam farm's link neighborhood is either
    * abnormally clique-ish or abnormally triangle-free for its
    * degree).
    *
    * Algorithm: degree orientation (Suri & Vassilvitskii, WWW'11
    * "Counting Triangles and the Curse of the Last Reducer" — the
    * public MapReduce formulation). Edges canonicalize + distinct,
    * then orient from the lower- to the higher-ranked endpoint under
    * the total order `(degree, id)`. Every triangle has exactly one
    * vertex with out-degree-2 in the orientation (its lowest-ranked),
    * so wedges enumerate as the oriented self-join on `src` with
    * `rank(v) < rank(w)`, and one more equi-join against the oriented
    * edge set closes them — each triangle found EXACTLY once, no
    * post-hoc division. The orientation is why this scales: a
    * hub of degree D contributes C(outdeg, 2) wedges where
    * `outdeg = O(sqrt(|E|))` regardless of D, so the curse-of-the-
    * last-reducer hot key cannot form. All joins are equi-joins on
    * node ids; all comparisons are integer-lexicographic
    * (struct compare == DuckDB row compare), so the DuckDB oracle
    * reproduces the triangle SET, not just the totals.
    *
    * Returns `(node, degree, n_triangles, clustering)` for every node
    * with degree >= 1; `clustering` = 2T/(d(d-1)) rounded to 6
    * (0.0 for degree-1 nodes).
    */
  def triangleCounts(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // NOTE (r14): canon/deg/oriented are each consumed by 2-3
    // downstream branches, so the PLAN re-expands the upstream subtree
    // per reference (174 Exchange nodes at the co-purchase gate).
    // Pinning the three stages was tried and REVERTED: runtime
    // exchange reuse already dedupes the clones (measured flat), while
    // the pinned variant held ~3 cached edge-scale RDDs per call that
    // no gate-shaped caller ever unpins — the heap pressure taxed every
    // downstream query in the same session. Leave the lazy subtree.
    val canon = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient: (deg, id)-lower endpoint -> higher; carry both ranks
    val withRanks = canon
      .join(deg.select(col("node").as("a"), col("degree").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("_db")), "b")
    val lower = struct(col("_da"), col("a")) < struct(col("_db"), col("b"))
    val oriented = withRanks.select(
      when(lower, col("a")).otherwise(col("b")).as("src"),
      when(lower, col("b")).otherwise(col("a")).as("dst"),
      when(lower, struct(col("_db").as("d"), col("b").as("n")))
        .otherwise(struct(col("_da").as("d"), col("a").as("n"))).as("_r"))
    val o1 = oriented.select(col("src"), col("dst").as("v"), col("_r").as("_rv"))
    val o2 = oriented.select(col("src"), col("dst").as("w"), col("_r").as("_rw"))
    val wedges = o1.join(o2, Seq("src")).filter(col("_rv") < col("_rw"))
      .select(col("src").as("u"), col("v"), col("w"))
    val tris = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") < 2, lit(0.0)).otherwise(
          round(lit(2.0) * col("n_triangles").cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6)))
  }
}
