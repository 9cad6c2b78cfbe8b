package graft.functions

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
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
  * comes out, but inside, the canonicalized edges become ONE key-value
  * vertex table `(node, adjacency)`, hash-partitioned once by
  * `HashPartitioner(spark.sql.shuffle.partitions)` and pinned. A round
  * is a narrow join of that table with the previous round's per-node
  * state (both sides on the same partitioner, so no shuffle) plus one
  * map-side-combined shuffle back onto the partitioner (label
  * propagation: two). The rounds are therefore stages of a single
  * Spark job — no Catalyst planning and no AQE re-planning between
  * rounds, and no blocking job per round; only [[kCore]] runs one
  * action per round, its fixpoint test. Integer arithmetic uses
  * `Math.addExact`/`multiplyExact`, so an overflow fails loudly as
  * ANSI SQL arithmetic does. [[hits]] and [[triangleCounts]] are
  * DataFrame pipelines.
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

  /** The vertex-table partitioner: `spark.sql.shuffle.partitions` hash
    * buckets of the edge frame's session.
    */
  private def partitioner(df: DataFrame): Partitioner =
    new HashPartitioner(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** The named columns of `df` cast to BIGINT, rows with a null
    * dropped, as an RDD — a narrow projection, so it plans no shuffle
    * of its own.
    */
  private def longRows(df: DataFrame, cols: String*): RDD[Array[Long]] = {
    val n = cols.length
    df.select(cols.map(c => col(c).cast("long")): _*).na.drop()
      .queryExecution.toRdd.map(r => Array.tabulate(n)(r.getLong))
  }

  /** `(node, out-neighbour -> summed weight)` for every endpoint of the
    * weighted edges `e` (sinks get an empty table), partitioned by
    * `part`. The map-side combine collapses duplicate edges before the
    * shuffle.
    */
  private def vertexTable(e: RDD[(Long, Long, Long)], part: Partitioner)
      : RDD[(Long, mutable.LongMap[Long])] = {
    def add(m: mutable.LongMap[Long], v: Option[(Long, Long)]): mutable.LongMap[Long] = {
      v.foreach { case (d, w) => m.update(d, Math.addExact(m.getOrElse(d, 0L), w)) }
      m
    }
    e.flatMap { case (s, d, w) => Iterator((s, Option((d, w))), (d, None)) }
      .combineByKey[mutable.LongMap[Long]](
        v => add(mutable.LongMap.empty[Long], v), add,
        (a, b) => { b.foreachEntry((d, w) => add(a, Some((d, w)))); a }, part)
  }

  /** Directed vertex table: every endpoint with its distinct
    * out-neighbours (null endpoints dropped, duplicates collapsed).
    */
  private def outNeighbours(edges: DataFrame, srcCol: String, dstCol: String,
      part: Partitioner): RDD[(Long, Array[Long])] =
    vertexTable(longRows(edges, srcCol, dstCol).map(a => (a(0), a(1), 1L)), part)
      .mapValues(_.keys.toArray)

  /** Undirected vertex table: null rows and self loops dropped,
    * duplicates collapsed, each edge kept in both directions — every
    * node has at least one neighbour.
    */
  private def neighbours(edges: DataFrame, srcCol: String, dstCol: String,
      part: Partitioner): RDD[(Long, Array[Long])] =
    vertexTable(longRows(edges, srcCol, dstCol)
      .filter(a => a(0) != a(1))
      .flatMap(a => Iterator((a(0), a(1), 1L), (a(1), a(0), 1L))), part)
      .mapValues(_.keys.toArray)

  /** Narrow hash join of two RDDs on the same partitioner: each
    * `(node, v)` of `left` meets `right`'s value for the node, if any.
    * Partition i of both sides holds the same keys, so the partitions
    * zip and one side's partition is held in a hash map — no shuffle.
    */
  private def localJoin[V, X](left: RDD[(Long, V)], right: RDD[(Long, X)])
      : RDD[(Long, (V, Option[X]))] = {
    require(left.partitioner.isDefined && left.partitioner == right.partitioner,
      "localJoin needs both sides on the same partitioner")
    left.zipPartitions(right, preservesPartitioning = true) { (ls, rs) =>
      val m = mutable.LongMap.empty[X] ++= rs
      ls.map { case (n, v) => (n, (v, m.get(n))) }
    }
  }

  /** `reduceByKey(part, f)` with both combine sides in plain hash maps:
    * the shuffle itself carries no aggregator, so Spark's size-tracking
    * combine maps never sample the records, and below 200 partitions
    * the bypass-merge writer runs. A partition's map holds its distinct
    * keys in memory.
    */
  private def combine[K: ClassTag, V: ClassTag](kv: RDD[(K, V)], part: Partitioner)(
      f: (V, V) => V): RDD[(K, V)] = {
    def local(it: Iterator[(K, V)]): Iterator[(K, V)] = {
      val m = mutable.HashMap.empty[K, V]
      it.foreach { case (k, v) => m.updateWith(k)(a => Some(a.fold(v)(f(_, v)))) }
      m.iterator
    }
    kv.mapPartitions(local).partitionBy(part).mapPartitions(local, preservesPartitioning = true)
  }

  /** `iterations` synchronous rounds of a fixed-point walk over the
    * pinned vertex table `vertices`:
    *
    * {{{ r₀(v) = init(v),   rᵢ₊₁(v) = next(v, Σ contributions into v) }}}
    *
    * where a node of rank `r` sends `emit(v, r)`; a node nothing sends
    * to reads a sum of 0. Each round is one narrow join of `vertices`
    * with the previous round's sums plus one [[combine]] onto `part`.
    * Every `pinEvery`-th round's sums are pinned as they are computed,
    * so a lost block recomputes at most `pinEvery` rounds, and no round
    * waits on a job. Returns the final `(node, rank)` RDD, not yet
    * computed, and the pins it holds.
    */
  private def walk[V: ClassTag](
      vertices: RDD[(Long, V)],
      part: Partitioner,
      iterations: Int,
      pinEvery: Int,
      init: V => Long,
      next: (V, Long) => Long,
      emit: (V, Long) => Iterator[(Long, Long)]): (RDD[(Long, Long)], Set[Int]) = {
    def ranks(sums: Option[RDD[(Long, Long)]]): RDD[(Long, (V, Long))] = sums match {
      case None => vertices.mapValues(v => (v, init(v)))
      case Some(s) => localJoin(vertices, s)
        .mapValues { case (v, c) => (v, next(v, c.getOrElse(0L))) }
    }
    var sums: Option[RDD[(Long, Long)]] = None
    var pins = Set.empty[Int]
    for (i <- 1 to iterations) {
      val (s, ids) = pinRound(combine(ranks(sums).values.flatMap { case (v, r) => emit(v, r) },
        part)(Math.addExact(_: Long, _: Long)), i, iterations, pinEvery)
      sums = Some(s)
      pins ++= ids
    }
    (ranks(sums).mapValues(_._2), pins)
  }

  /** Pin round `i`'s state when `i` is a `pinEvery`-th round before the
    * last one (the last round's output is pinned by [[result]]).
    */
  private def pinRound[T](state: RDD[T], i: Int, iterations: Int,
      pinEvery: Int): (RDD[T], Set[Int]) =
    if (i % pinEvery == 0 && i < iterations) Pins.pinRdd(state) else (state, Set.empty)

  /** Pin `values` and run the ONE job that computes it — every round
    * still pending becomes a stage of that job — then release `held`
    * and return `(node, <field>)` over the pinned values, with the pin
    * registered for [[unpin]]. `node` is nullable exactly when an
    * endpoint column of `edges` is, as the result schema has always
    * carried it.
    */
  private def result(edges: DataFrame, srcCol: String, dstCol: String,
      values: RDD[(Long, Long)], field: StructField, held: Set[Int]): DataFrame = {
    val spark = edges.sparkSession
    val (out, outPins) = Pins.pinRdd(values)
    out.count()
    Pins.release(spark.sparkContext, held)
    val nodeNullable = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .schema.exists(_.nullable)
    val df = spark.createDataFrame(out.map { case (n, x) => Row(n, x) },
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
      ranks: RDD[(Long, Long)], digits: Int, held: Set[Int]): DataFrame = {
    val toNano = math.pow(10, 9 - digits).toLong
    result(edges, srcCol, dstCol, ranks.mapValues(Math.multiplyExact(_, toNano)),
      StructField("rank_nano", LongType), held)
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
    * Jobs: one setup job builds and pins the vertex table
    * `(node, out-neighbours)` and counts its nodes for the unit
    * choice; one more runs all `iterations` rounds (one shuffle each,
    * see [[Graphs]]) and pins the result. `pinEvery` bounds how far
    * back a lost block recomputes; it adds no job.
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
    val part = partitioner(edges)
    val (adj, adjPins) = Pins.pinRdd(outNeighbours(edges, srcCol, dstCol, part))
    val nNodes = adj.count()
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
    val base = (1000L - d) * (u / 1000L)
    val (ranks, pins) = walk[Array[Long]](adj, part, iterations, pinEvery,
      init = _ => u,
      next = (_, c) => Math.addExact(base, Math.multiplyExact(d, c) / 1000L),
      emit = (out, r) => out.iterator.map(t => (t, r / out.length)))
    rankResult(edges, srcCol, dstCol, ranks, digits, adjPins ++ pins)
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
    * Job shape identical to [[pageRank]], over a vertex table
    * `(node, out-neighbours, weights, W)`.
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
    val part = partitioner(edges)
    val (adj, adjPins) = Pins.pinRdd(
      vertexTable(longRows(edges, srcCol, dstCol, weightCol).map(a => (a(0), a(1), a(2))), part)
        .mapValues { m =>
          val (out, ws) = m.toArray.unzip
          (out, ws, ws.foldLeft(0L)(Math.addExact(_: Long, _: Long)))
        })
    // (nodes, merged edges, min weight, max weight) in the setup job
    val (nNodes, nEdges, minW, maxW) = adj.values.aggregate((0L, 0L, Long.MaxValue, Long.MinValue))(
      { case ((n, m, lo, hi), (_, ws, _)) =>
        (n + 1, m + ws.length, math.min(lo, ws.minOption.getOrElse(lo)),
          math.max(hi, ws.maxOption.getOrElse(hi))) },
      { case ((n1, m1, lo1, hi1), (n2, m2, lo2, hi2)) =>
        (n1 + n2, m1 + m2, math.min(lo1, lo2), math.max(hi1, hi2)) })
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
    val base = (1000L - d) * (u / 1000L)
    val (ranks, pins) = walk[(Array[Long], Array[Long], Long)](adj, part, iterations, pinEvery,
      init = _ => u,
      next = (_, c) => Math.addExact(base, Math.multiplyExact(d, c) / 1000L),
      emit = { case ((out, ws, total), r) =>
        out.indices.iterator.map(j => (out(j), Math.multiplyExact(r, ws(j)) / total)) })
    rankResult(edges, srcCol, dstCol, ranks, digits, adjPins ++ pins)
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
    * what makes seeded walks cheap on web-scale graphs. The seed flag
    * rides the vertex table; the job shape is [[pageRank]]'s.
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
    val part = partitioner(edges)
    val seedIds = combine(longRows(seeds, seedCol).map(a => (a(0), ())), part)((a, _) => a)
    val (adj, adjPins) = Pins.pinRdd(localJoin(outNeighbours(edges, srcCol, dstCol, part), seedIds)
      .mapValues { case (out, s) => (out, s.isDefined) })
    // the ladder bounds scale with SEED mass, not graph size
    val nSeeds = adj.filter(_._2._2).count()
    require(nSeeds >= 1, "personalizedPageRank: no seed id occurs in the graph")
    require(nSeeds < MaxNodes,
      s"personalizedPageRank: $nSeeds seeds exceed the ~9e9 cap from the " +
        "rank_nano output bound (rank * 1e9 must stay under 2^63)")
    val digits = unitDigits(unit, nSeeds * math.max(dampingPerMille, 1).toLong, "",
      (name, bound) => s"personalizedPageRank: $nSeeds seeds would overflow the " +
        s"$name-unit damping multiply (bound $bound seed·damping) — use unit=\"auto\"")
    val u = math.pow(10, digits).toLong
    val d = dampingPerMille.toLong
    val baseSeed = (1000L - d) * (u / 1000L)
    val (ranks, pins) = walk[(Array[Long], Boolean)](adj, part, iterations, pinEvery,
      init = v => if (v._2) u else 0L,
      next = (v, c) => Math.addExact(if (v._2) baseSeed else 0L,
        Math.multiplyExact(d, c) / 1000L),
      emit = { case ((out, _), r) =>
        if (r == 0L) Iterator.empty else out.iterator.map(t => (t, r / out.length)) })
    rankResult(edges, srcCol, dstCol, ranks, digits, adjPins ++ pins)
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
    * loops dropped, duplicates collapsed, symmetrized). The vertex
    * table carries each node's neighbours and its degree in the
    * surviving subgraph. In a round, each removed node sends one
    * message to each of its neighbours (one shuffle), and the
    * survivors subtract what they received in a narrow join; a node
    * left without neighbours drops out. All `rounds` rounds run in
    * one job.
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

  /** Exact k-core: [[kCoreRounds]] run to the fixpoint. One job per
    * round counts the nodes the next round would remove (it also
    * computes and pins the round); a round that would remove none
    * ends the loop, so it terminates in at most |V| rounds and real
    * graphs settle in a handful — no row data is collected.
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
    val part = partitioner(edges)
    // (node, (neighbours, degree in the surviving subgraph))
    var (core, pins) = Pins.pinRdd(
      neighbours(edges, srcCol, dstCol, part).mapValues(a => (a, a.length.toLong)))
    def doomed(c: RDD[(Long, (Array[Long], Long))]): Long = c.filter(_._2._2 < k).count()
    var round = 0
    var more = rounds.isDefined || doomed(core) > 0
    while (more) {
      val lost = combine(core.values.flatMap { case (out, deg) =>
        if (deg < k) out.iterator.map(t => (t, 1L)) else Iterator.empty }, part)(_ + _)
      val (next, nextPins) = Pins.pinRdd(localJoin(core.filter(_._2._2 >= k), lost)
        .mapValues { case ((out, deg), l) => (out, deg - l.getOrElse(0L)) }
        .filter(_._2._2 > 0))
      round += 1
      more = rounds match {
        case Some(r) => round < r
        case None => doomed(next) > 0
      }
      // to the fixpoint, `next` is computed and pinned by now, so the
      // previous round's pin can go; fixed rounds hold every pin until
      // the result job
      if (rounds.isEmpty) Pins.release(edges.sparkSession.sparkContext, pins)
      pins = if (rounds.isEmpty) nextPins else pins ++ nextPins
      core = next
    }
    result(edges, srcCol, dstCol, core.mapValues(_._2),
      StructField("degree", LongType, nullable = false), pins)
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
    * support). Each round joins the vertex table with the previous
    * labels and aggregates the votes in two map-side-combined
    * shuffles: counts keyed `(node, label)`, then the per-node argmax
    * keyed `node`. The first level keeps the shape skew-safe: a hub's
    * degree-many distinct votes spread over reducers by label before
    * one row per (node, label) reaches the node's reducer. All rounds
    * run in one job; `pinEvery` is [[pageRank]]'s. Labels never grow
    * (they are node ids), so there is no overflow ladder to manage —
    * this runs at any node count.
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
    val part = partitioner(edges)
    // every node has >= 1 neighbour, so every node gets a vote each round
    val (adj, adjPins) = Pins.pinRdd(neighbours(edges, srcCol, dstCol, part))
    var labels: Option[RDD[(Long, Long)]] = None
    var pins = adjPins
    for (i <- 1 to iterations) {
      val voters = labels match {
        case None => adj.map { case (n, out) => (out, n) }
        case Some(l) => localJoin(adj, l).values.map { case (out, lab) => (out, lab.get) }
      }
      val counts = combine(
        voters.flatMap { case (out, l) => out.iterator.map(t => ((t, l), 1L)) }, part)(_ + _)
      val next = combine(counts.map { case ((t, l), c) => (t, (c, l)) }, part)(
        (a, b) => if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
        .mapValues(_._2)
      val (l, ids) = pinRound(next, i, iterations, pinEvery)
      labels = Some(l)
      pins ++= ids
    }
    result(edges, srcCol, dstCol, labels.get, StructField("label", LongType), pins)
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
