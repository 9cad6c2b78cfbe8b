package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Integer-nano PageRank: hand-checkable invariants, a naive
  * driver-side reference replay (the oracle's algebra), truncating-
  * division edges, and the pin-release contract.
  */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  /** Naive replay of the exact integer recurrence at a unit of
    * `10^digits`, rescaled to nano like the engine output.
    */
  private def naivePr(
      edges: Seq[(Long, Long)], iters: Int, d: Long = 850L,
      digits: Int = 9): Map[Long, Long] = {
    val u = math.pow(10, digits).toLong
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, g) => (s, g.size.toLong) }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(n => (n, u)).toMap
    (1 to iters).foreach { _ =>
      val c = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (s, t) => c(t) += r(s) / deg(s) }
      r = nodes.map(n => (n, (1000L - d) * (u / 1000L) + (d * c(n)) / 1000L)).toMap
    }
    val toNano = math.pow(10, 9 - digits).toLong
    r.map { case (n, v) => (n, v * toNano) }
  }

  test("regular cycle is a fixpoint at exactly 1e9") {
    // a->b->c->a: deg 1 everywhere, mass conserved: 150M + 850M = 1e9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graphs.pageRank(edges, "src", "dst", iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1000000000L, 2L -> 1000000000L, 3L -> 1000000000L))
  }

  test("star + chain matches the naive integer replay (truncating div exercised)") {
    // 3 leaves -> hub (deg-1 leaves), hub -> 3 leaves (deg 3: 1e9/3
    // truncates), plus a tail the hub feeds
    val e = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L),
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 20L))
    val got = Graphs.pageRank(e.toDF("src", "dst"), "src", "dst", iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == naivePr(e, 6))
    // the tail node has no out-edges (dangling) and never feeds back
    assert(got(20L) < got(10L))
  }

  test("duplicate and null edges are cleaned; iterations=1 supported") {
    val e = Seq(
      (Some(1L), Some(2L)), (Some(1L), Some(2L)), (None, Some(2L)), (Some(2L), None))
      .toDF("src", "dst")
    val got = Graphs.pageRank(e, "src", "dst", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == naivePr(Seq((1L, 2L)), 1))
  }

  test("forced micro unit matches the micro naive replay, rescaled x1000") {
    // the truncating hub division (1e6/3 at micro vs 1e9/3 at nano)
    // makes micro ranks differ from nano beyond the trailing zeros —
    // this asserts the engine really computed at micro precision
    val e = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L),
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 20L))
    val got = Graphs.pageRank(
        e.toDF("src", "dst"), "src", "dst", iterations = 6, unit = "micro")
      .as[(Long, Long)].collect().toMap
    assert(got == naivePr(e, 6, digits = 6))
    assert(got.values.forall(_ % 1000L == 0L), "micro output rescales x1000")
    assert(got != naivePr(e, 6), "micro truncation must differ from nano here")
  }

  test("auto picks nano on small graphs; bad unit names fail loud") {
    val e = Seq((1L, 10L), (10L, 1L), (10L, 20L))
    val auto = Graphs.pageRank(
        e.toDF("src", "dst"), "src", "dst", iterations = 3, unit = "auto")
      .as[(Long, Long)].collect().toMap
    assert(auto == naivePr(e, 3), "auto == nano below the nano bound")
    val ex = intercept[IllegalArgumentException] {
      Graphs.pageRank(e.toDF("src", "dst"), "src", "dst", 3, unit = "femto")
    }
    assert(ex.getMessage.contains("unit must be one of"))
  }

  test("only the result's pins survive and unpin releases exactly them") {
    // assert on the ids the operator REGISTERED, not a global
    // persistent-RDD set-diff — that races under parallel suites
    val r = Graphs.pageRank(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), "src", "dst", iterations = 3)
    r.count()
    val pins = Pins.registered(r)
    assert(pins.nonEmpty && pins.size <= 2,
      s"only the final round's pins may survive, got ${pins.size}")
    assert(pins.forall(spark.sparkContext.getPersistentRDDs.contains),
      "registered pins must be live before unpin")
    Graphs.unpin(r)
    assert(pins.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "unpin must release the result's blocks")
    Graphs.unpin(r) // idempotent no-op
  }

  test("triangleCounts: hand-checked graphs, duplicates/orientation-proof") {
    // K3 plus a pendant: nodes 1,2,3 form the triangle; 4 hangs off 3.
    // Edges deliberately duplicated and flipped — canonicalization
    // must collapse them.
    val e1 = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = Graphs.triangleCounts(e1, "src", "dst")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 1.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, round6(2.0 / 6.0))))
    assert(got(4L) == ((1L, 0L, 0.0)))

    // two triangles sharing edge (1,2): T(1)=T(2)=2, T(3)=T(4)=1
    val e2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)).toDF("src", "dst")
    val got2 = Graphs.triangleCounts(e2, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got2 == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))

    // total-triangle conservation on a seeded random graph: sum of
    // per-node counts == 3 * naive triple-loop count
    val rnd = new scala.util.Random(11)
    val edges = (1 to 120).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val naive = (for {
      a <- 0L until 20L; b <- a + 1 until 20L; c <- b + 1 until 20L
      if canon((a, b)) && canon((b, c)) && canon((a, c))
    } yield 1).size
    val sumPerNode = Graphs.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
      .agg(sum("n_triangles")).collect()(0).getLong(0)
    assert(sumPerNode == 3L * naive, s"per-node sum $sumPerNode vs 3x$naive")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Weighted-walk replay: contribution (r·w) div W(u), parallel
    * edges pre-summed.
    */
  private def naiveWpr(
      edges: Seq[(Long, Long, Long)], iters: Int, d: Long = 850L): Map[Long, Long] = {
    val e = edges.groupBy(t => (t._1, t._2))
      .map { case ((s, t), g) => (s, t, g.map(_._3).sum) }.toSeq
    val ws = e.groupBy(_._1).map { case (s, g) => (s, g.map(_._3).sum) }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(n => (n, 1000000000L)).toMap
    (1 to iters).foreach { _ =>
      val c = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (s, t, w) => c(t) += (r(s) * w) / ws(s) }
      r = nodes.map(n => (n, 150L * 1000000L + (d * c(n)) / 1000L)).toMap
    }
    r
  }

  test("weightedPageRank: parallel edges sum, skew pulls rank, replay exact") {
    // hub 10 sends 9/10 of its mass to 1 (w=9 vs 1); parallel (2,10)
    // edges must merge to w=5
    val e = Seq((10L, 1L, 9L), (10L, 2L, 1L), (1L, 10L, 3L),
      (2L, 10L, 2L), (2L, 10L, 3L))
    val got = Graphs.weightedPageRank(
        e.toDF("src", "dst", "w"), "src", "dst", "w", iterations = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == naiveWpr(e, 5))
    assert(got(1L) > got(2L), "the w=9 target must outrank the w=1 target")
  }

  test("weightedPageRank with uniform weights equals the unweighted walk; w<1 loud") {
    val e = Seq((1L, 10L), (2L, 10L), (10L, 1L), (10L, 2L), (10L, 20L))
    val wpr = Graphs.weightedPageRank(
        e.map(t => (t._1, t._2, 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 4)
      .as[(Long, Long)].collect().toMap
    val pr = Graphs.pageRank(e.toDF("src", "dst"), "src", "dst", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(wpr == pr)
    val ex = intercept[IllegalArgumentException] {
      Graphs.weightedPageRank(
        Seq((1L, 2L, 0L)).toDF("src", "dst", "w"), "src", "dst", "w", iterations = 1)
    }
    assert(ex.getMessage.contains("weights must be >= 1"))
  }

  /** Seeded-walk replay: [[naivePr]] with base term and initial mass
    * gated on seed membership.
    */
  private def naivePpr(
      edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
      d: Long = 850L, digits: Int = 9): Map[Long, Long] = {
    val u = math.pow(10, digits).toLong
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, g) => (s, g.size.toLong) }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(n => (n, if (seeds(n)) u else 0L)).toMap
    (1 to iters).foreach { _ =>
      val c = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (s, t) => c(t) += r(s) / deg(s) }
      r = nodes.map(n => (n,
        (if (seeds(n)) (1000L - d) * (u / 1000L) else 0L) + (d * c(n)) / 1000L)).toMap
    }
    val toNano = math.pow(10, 9 - digits).toLong
    r.map { case (n, v) => (n, v * toNano) }
  }

  test("personalizedPageRank: seeded star/chain matches the naive replay; unreached stay 0") {
    // hub graph plus a DISCONNECTED pair (40,41): no path from the
    // seed -> exact 0, and the frontier filter must not drop the rows
    val e = Seq(
      (1L, 10L), (2L, 10L), (3L, 10L),
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 20L),
      (40L, 41L), (41L, 40L))
    val seeds = Seq(1L).toDF("s")
    val got = Graphs.personalizedPageRank(
        e.toDF("src", "dst"), "src", "dst", seeds, "s", iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == naivePpr(e, Set(1L), 6))
    assert(got(40L) == 0L && got(41L) == 0L, "unreached nodes report exact 0")
    assert(got(1L) > got(20L), "the seed outranks the far tail")
  }

  test("personalizedPageRank: all-node seed set equals the global walk; no-seed fails loud") {
    val e = Seq((1L, 10L), (10L, 1L), (10L, 20L))
    val all = Seq(1L, 10L, 20L).toDF("s")
    val ppr = Graphs.personalizedPageRank(
        e.toDF("src", "dst"), "src", "dst", all, "s", iterations = 4)
      .as[(Long, Long)].collect().toMap
    val pr = Graphs.pageRank(e.toDF("src", "dst"), "src", "dst", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(ppr == pr)
    val ex = intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(
        e.toDF("src", "dst"), "src", "dst", Seq(99L).toDF("s"), "s", iterations = 2)
    }
    assert(ex.getMessage.contains("no seed id occurs in the graph"))
  }

  /** Synchronous peel replay: symmetrize/clean, then per round drop
    * ALL nodes with degree < k at once; None = run to fixpoint.
    */
  private def naiveCore(
      edges: Seq[(Long, Long)], k: Int, rounds: Option[Int]): Map[Long, Long] = {
    var e = edges.filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct
    var round = 0
    var done = e.isEmpty
    while (!done) {
      val deg = e.groupBy(_._1).map { case (n, g) => (n, g.size) }
      val keep = deg.filter(_._2 >= k).keySet
      val next = e.filter(p => keep(p._1) && keep(p._2))
      round += 1
      done = rounds.map(round >= _).getOrElse(next.size == e.size) || next.isEmpty
      e = next
    }
    e.groupBy(_._1).map { case (n, g) => (n, g.size.toLong) }
  }

  test("kCore: K4 + pendant chain peels to exactly the K4; chain case needs 2 rounds") {
    // K4 on {1,2,3,4}; chain 4-5-6 hangs off it
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val got = Graphs.kCore(e.toDF("src", "dst"), "src", "dst", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(got == naiveCore(e, 3, None))

    // chain a-b-c-d at k=2: round 1 keeps {b,c} (degree-2 mid nodes),
    // round 2 empties — kCoreRounds(1) differs from the fixpoint
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val r1 = Graphs.kCoreRounds(chain.toDF("src", "dst"), "src", "dst", k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(2L -> 1L, 3L -> 1L))
    assert(r1 == naiveCore(chain, 2, Some(1)))
    val fix = Graphs.kCore(chain.toDF("src", "dst"), "src", "dst", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(fix.isEmpty)
  }

  test("kCore: seeded random graph replays the synchronous peel at fixed rounds and fixpoint") {
    val rnd = new scala.util.Random(29)
    val e = (1 to 120).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    for (r <- Seq(Some(1), Some(2), None)) {
      val got = r match {
        case Some(n) => Graphs.kCoreRounds(e.toDF("src", "dst"), "src", "dst", 3, n)
        case None => Graphs.kCore(e.toDF("src", "dst"), "src", "dst", 3)
      }
      assert(got.as[(Long, Long)].collect().toMap == naiveCore(e, 3, r), s"rounds=$r")
    }
  }

  /** Synchronous LPA replay: symmetrize, then per round every node
    * takes the (count desc, label asc)-best neighbor label.
    */
  private def naiveLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val nodes = und.map(_._1).distinct
    var lab = nodes.map(n => (n, n)).toMap
    (1 to iters).foreach { _ =>
      lab = und.groupBy(_._2).map { case (v, es) =>
        val best = es.map(e => lab(e._1)).groupBy(identity)
          .toSeq.map { case (l, g) => (-g.size.toLong, l) }.min
        (v, best._2)
      }
    }
    lab
  }

  test("labelPropagation: bridged cliques match the synchronous replay") {
    // two triangles bridged at (3,10); edges deliberately directed,
    // duplicated, and self-looped — canonicalization must absorb all
    val e = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (2L, 2L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (3L, 10L))
    for (iters <- Seq(1, 2, 5)) {
      val got = Graphs.labelPropagation(e.toDF("src", "dst"), "src", "dst", iters)
        .as[(Long, Long)].collect().toMap
      assert(got == naiveLpa(e, iters), s"iters=$iters")
    }
    // by round 5 each clique coalesces onto one label and the two
    // cliques stay distinct (the bridge cannot outvote a triangle)
    val stable = Graphs.labelPropagation(e.toDF("src", "dst"), "src", "dst", 5)
      .as[(Long, Long)].collect().toMap
    assert(Set(stable(1L), stable(2L), stable(3L)).size == 1)
    assert(Set(stable(10L), stable(11L), stable(12L)).size == 1)
    assert(stable(1L) != stable(10L))
  }

  test("labelPropagation: seeded random graph replays exactly (tie-break total)") {
    val rnd = new scala.util.Random(7)
    val e = (1 to 150).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val got = Graphs.labelPropagation(e.toDF("src", "dst"), "src", "dst", 4)
      .as[(Long, Long)].collect().toMap
    assert(got == naiveLpa(e, 4))
  }

  /** Integer HITS replay: per half-step, sum then truncating
    * max-rescale into [0, 1e6] with the ceiling divisor.
    */
  private def naiveHits(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val U = 1000000L
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var h = nodes.map(n => (n, U)).toMap
    var a = Map.empty[Long, Long]
    (1 to iters).foreach { _ =>
      val rawA = nodes.map(n => (n, e.filter(_._2 == n).map(x => h(x._1)).sum)).toMap
      val da = math.max((rawA.values.max + U - 1) / U, 1L)
      a = rawA.map { case (n, v) => (n, v / da) }
      val rawH = nodes.map(n => (n, e.filter(_._1 == n).map(x => a(x._2)).sum)).toMap
      val dh = math.max((rawH.values.max + U - 1) / U, 1L)
      h = rawH.map { case (n, v) => (n, v / dh) }
    }
    nodes.map(n => (n, (h(n), a(n)))).toMap
  }

  test("hits: hub/authority separation on a hand graph; pure sinks score hub 0") {
    // 1 links to both targets, 2 to one: 1 is the better hub; 3 is
    // the better authority; 3/4 link nowhere -> hub 0
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L))
    val got = Graphs.hits(e.toDF("src", "dst"), "src", "dst", iterations = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == naiveHits(e, 3))
    assert(got(1L)._1 > got(2L)._1, "two out-links beat one")
    assert(got(3L)._2 > got(4L)._2, "two in-links beat one")
    assert(got(3L)._1 == 0L && got(4L)._1 == 0L, "sinks are zero hubs")
    assert(got(1L)._2 == 0L && got(2L)._2 == 0L, "sources are zero authorities")
    // the CEILING divisor keeps every score <= 1e6 but lands the max
    // in (5e5, 1e6] (d = ceil(m/U) can overshoot m/U by up to 2x)
    assert(got.values.map(_._1).max > 500000L && got.values.map(_._1).max <= 1000000L)
    assert(got.values.map(_._2).max > 500000L && got.values.map(_._2).max <= 1000000L)
  }

  test("hits: seeded random digraph replays exactly; nulls/dups cleaned") {
    val rnd = new scala.util.Random(13)
    val e = (1 to 200).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val withJunk = (e ++ e.take(20)).map { case (a, b) => (Some(a), Some(b)) } :+
      ((None: Option[Long], Some(1L))) :+ ((Some(1L), None: Option[Long]))
    val got = Graphs.hits(withJunk.toDF("src", "dst"), "src", "dst", iterations = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == naiveHits(e, 2))
  }

  test("hits: empty or all-null edge input fails loud, not with an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException](
      Graphs.hits(empty, "src", "dst", iterations = 1))
    assert(e1.getMessage.contains("no edges"))
    val allNull = Seq((None: Option[Long], None: Option[Long])).toDF("src", "dst")
    val e2 = intercept[IllegalArgumentException](
      Graphs.hits(allNull, "src", "dst", iterations = 1))
    assert(e2.getMessage.contains("no edges"))
  }

  test("labelPropagation and hits register exactly their surviving pins") {
    val lp = Graphs.labelPropagation(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst", iterations = 2)
    lp.count()
    val lpPins = Pins.registered(lp)
    assert(lpPins.nonEmpty && lpPins.size <= 2)
    Graphs.unpin(lp)
    assert(lpPins.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))

    val ht = Graphs.hits(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst", iterations = 2)
    ht.count()
    val htPins = Pins.registered(ht)
    assert(htPins.nonEmpty && htPins.size <= 4,
      s"only the final hub+auth raw pins may survive, got ${htPins.size}")
    Graphs.unpin(ht)
    assert(htPins.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))
  }

  test("fixed rounds run as stages of one job: job and stage counts per call") {
    val s = blocksAt(4)
    val rnd = new scala.util.Random(3)
    val raw = (1 to 400).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong, 1L + rnd.nextInt(4)))
    val e = s.createDataFrame(raw.map(t => (t._1, t._2))).toDF("src", "dst")
    // setup job (vertex blocks + node count), rounds job, the caller's collect
    val (prJobs, prStages, _, _) = jobsOf(Graphs.pageRank(e, "src", "dst", 8).collect())
    assert(prJobs <= 3, s"pageRank(8) ran $prJobs jobs")
    assert(prStages <= 8 + 4, s"pageRank(8) ran $prStages stages: more than one shuffle per round")
    val (wJobs, wStages, _, _) = jobsOf(Graphs.weightedPageRank(
      s.createDataFrame(raw).toDF("src", "dst", "w"), "src", "dst", "w", 8).collect())
    assert(wJobs <= 3, s"weightedPageRank(8) ran $wJobs jobs")
    assert(wStages <= 8 + 4, s"weightedPageRank(8) ran $wStages stages")
    // the setup job has one more shuffle: the seed ids to their blocks
    val (pJobs, pStages, _, _) = jobsOf(Graphs.personalizedPageRank(
      e, "src", "dst", s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L))).toDF("s"), "s", 8).collect())
    assert(pJobs <= 3, s"personalizedPageRank(8) ran $pJobs jobs")
    assert(pStages <= 8 + 5, s"personalizedPageRank(8) ran $pStages stages")
    val (lpJobs, lpStages, _, _) = jobsOf(Graphs.labelPropagation(e, "src", "dst", 5).collect())
    assert(lpJobs <= 3, s"labelPropagation(5) ran $lpJobs jobs")
    assert(lpStages <= 2 * 5 + 3,
      s"labelPropagation(5) ran $lpStages stages: more than two shuffles per round")
    // K5 with a 4-node path hanging off it: at k=2 the path peels one
    // node per round, then a round that removes nothing ends the peel
    val core = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val path = Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    val peelRounds = 5
    val (kcJobs, _, _, _) = jobsOf {
      val got = Graphs.kCore(s.createDataFrame(core ++ path).toDF("src", "dst"), "src", "dst", 2)
        .as[(Long, Long)].collect().toMap
      assert(got == (1L to 5L).map(_ -> 4L).toMap)
    }
    assert(kcJobs <= peelRounds + 2, s"kCore ran $kcJobs jobs for $peelRounds peel rounds")
    Curation.releaseAllPins(spark)
  }

  /** The six block-round operators over `df` (`src`, `dst`, `w`), the
    * seeded walk seeded at the `s` ids of `seeds`.
    */
  private def operators(df: DataFrame, seeds: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "pageRank" -> (() => Graphs.pageRank(df, "src", "dst", 6)),
    "weightedPageRank" -> (() => Graphs.weightedPageRank(df, "src", "dst", "w", 6)),
    "personalizedPageRank" -> (() => Graphs.personalizedPageRank(df, "src", "dst", seeds, "s", 6)),
    "labelPropagation" -> (() => Graphs.labelPropagation(df, "src", "dst", 4)),
    "kCoreRounds" -> (() => Graphs.kCoreRounds(df, "src", "dst", 5, 2)),
    "kCore" -> (() => Graphs.kCore(df, "src", "dst", 5)))

  /** A session at `partitions` shuffle partitions whose partition size
    * targets are one byte, so the graphs of these specs build
    * `partitions` vertex blocks rather than the one their size gets.
    */
  private def blocksAt(partitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    s
  }

  /** Each operator's name and sorted rows on weighted edges `e` over
    * `partitions` vertex blocks. One block must run the rounds inside
    * its one task and several must not, so a comparison of the two is
    * one of the two round paths.
    */
  private def rowsAt(partitions: Int, e: Seq[(Long, Long, Long)],
      seeds: Seq[Long]): Seq[(String, Seq[(Long, Long)])] = {
    val s = blocksAt(partitions)
    val df = s.createDataFrame(e).toDF("src", "dst", "w")
    operators(df, s.createDataFrame(seeds.map(Tuple1(_))).toDF("s")).map { case (name, run) =>
      var rows = Seq.empty[(Long, Long)]
      val (_, _, _, names) = jobsOf {
        val r = run()
        assert(r.rdd.getNumPartitions == partitions)
        rows = r.as[(Long, Long)].collect().toSeq.sorted
        Graphs.unpin(r)
      }
      assert(names.exists(_.startsWith(s"graph rounds in one task: $name, ")) == (partitions == 1),
        s"$name at $partitions partitions ran $names")
      (name, rows)
    }
  }

  test("rewritten operators give identical rows at shuffle partitions 1 and 7") {
    val rnd = new scala.util.Random(5)
    val e = (1 to 300).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong, 1L + rnd.nextInt(4)))
    val one = rowsAt(1, e, Seq(1L, 2L, 3L))
    assert(one.forall(_._2.nonEmpty), "an empty result would make the comparison vacuous")
    assert(one == rowsAt(7, e, Seq(1L, 2L, 3L)))
  }

  test("a hub of 2,000 leaves: all six operators replay exactly at shuffle partitions 1 and 7") {
    // a star both ways, random edges among the leaves (self loops and
    // parallel edges included) and duplicate weighted edges; round 1 of
    // labelPropagation sends the hub 2,000 distinct labels
    val rnd = new scala.util.Random(23)
    val leaves = 2000
    val star = (1L to leaves).flatMap(l => Seq((0L, l, 1L + rnd.nextInt(3)), (l, 0L, 1L)))
    val random = (1 to 6000).map(_ =>
      (1L + rnd.nextInt(leaves), 1L + rnd.nextInt(leaves), 1L + rnd.nextInt(5)))
    val e = star ++ random ++ random.take(300).map(t => (t._1, t._2, 2L))
    val pairs = e.map(t => (t._1, t._2))
    val seeds = Seq(0L, 7L, 11L)
    val want = Seq(naivePr(pairs, 6), naiveWpr(e, 6), naivePpr(pairs, seeds.toSet, 6),
      naiveLpa(pairs, 4), naiveCore(pairs, 5, Some(2)), naiveCore(pairs, 5, None))
      .map(_.toSeq.sorted)
    assert(want(5).nonEmpty && want(5).length < want(4).length, "the peel must go past round 2")
    for (partitions <- Seq(1, 7)) {
      rowsAt(partitions, e, seeds).zip(want).foreach { case ((name, got), w) =>
        assert(got == w, s"$name at $partitions partitions")
      }
    }
    // by round 4 the star has one label; round 1 alone shows the hub's
    // 2,000 distinct votes, one each, going to the smallest label
    val s7 = blocksAt(7)
    val lp1 = Graphs.labelPropagation(s7.createDataFrame(pairs).toDF("src", "dst"), "src", "dst", 1)
      .as[(Long, Long)].collect().toMap
    assert(lp1 == naiveLpa(pairs, 1) && lp1(0L) == 1L)
  }

  test("a map task writes at most one shuffle record per partition") {
    val parts = 4
    val s = blocksAt(parts)
    // many more edges than partitions^2, so a record per edge or node would show
    val rnd = new scala.util.Random(19)
    val e = (1 to 4000).map(_ =>
      (rnd.nextInt(500).toLong, rnd.nextInt(500).toLong, 1L + rnd.nextInt(3)))
    val df = s.createDataFrame(e).toDF("src", "dst", "w")
    val seeds = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L))).toDF("s")
    for ((name, run) <- operators(df, seeds)) {
      val (_, _, written, _) = jobsOf(Graphs.unpin(run()))
      assert(written.nonEmpty, s"$name wrote no shuffle records")
      assert(written.max <= parts, s"$name: a map task wrote ${written.max} records")
    }
  }

  test("a small graph builds one block, and its rounds write no shuffle records") {
    val rnd = new scala.util.Random(3)
    val e = (1 to 400).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)).toDF("src", "dst")
    val runs = Seq(
      "pageRank(8)" -> (() => Graphs.pageRank(e, "src", "dst", 8)),
      "labelPropagation(5)" -> (() => Graphs.labelPropagation(e, "src", "dst", 5)),
      "kCore" -> (() => Graphs.kCore(e, "src", "dst", 3)))
    for ((name, run) <- runs) {
      val (jobs, stages, written, names) = jobsOf {
        val r = run()
        assert(r.rdd.getNumPartitions == 1, s"$name: ${r.rdd.getNumPartitions} blocks")
        Graphs.unpin(r)
      }
      // the build and every round of a job in one stage
      assert(stages == jobs, s"$name ran $stages stages in $jobs jobs")
      assert(written.isEmpty, s"$name wrote shuffle records: $written")
      assert(names.exists(_.startsWith("graph blocks: 1, edge estimate ")), s"$name: $names")
    }
  }

  test("one block: all rounds run inside one task, with no job per round") {
    val rnd = new scala.util.Random(3)
    val raw = (1 to 400).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong, 1L + rnd.nextInt(4)))
    val e = raw.map(t => (t._1, t._2)).toDF("src", "dst")
    def inOneTask(what: String, maxJobs: Int)(body: => Unit): Unit = {
      val (jobs, stages, _, names) = jobsOf(body)
      assert(jobs <= maxJobs, s"$what ran $jobs jobs")
      assert(stages == jobs, s"$what ran $stages stages in $jobs jobs")
      assert(names.exists(_.startsWith("graph rounds in one task: ")), s"$what ran $names")
    }
    // setup job (vertex block + node or seed count), rounds job, the caller's collect
    inOneTask("pageRank(8)", 3)(Graphs.pageRank(e, "src", "dst", 8).collect())
    inOneTask("weightedPageRank(8)", 3)(
      Graphs.weightedPageRank(raw.toDF("src", "dst", "w"), "src", "dst", "w", 8).collect())
    inOneTask("personalizedPageRank(8)", 3)(Graphs.personalizedPageRank(
      e, "src", "dst", Seq(1L, 2L).toDF("s"), "s", 8).collect())
    // rounds job, the caller's collect
    inOneTask("labelPropagation(5)", 2)(Graphs.labelPropagation(e, "src", "dst", 5).collect())
    // K5 with a 4-node path hanging off it: 5 peel rounds at k=2, and
    // still the rounds job and the caller's collect
    val core = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val path = Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    inOneTask("kCore", 2) {
      val got = Graphs.kCore((core ++ path).toDF("src", "dst"), "src", "dst", 2)
        .as[(Long, Long)].collect().toMap
      assert(got == (1L to 5L).map(_ -> 4L).toMap)
    }
    Curation.releaseAllPins(spark)
  }

  test("the block count: the size estimate over the target size, within [1, shuffle partitions]") {
    val rnd = new scala.util.Random(29)
    val e = (1 to 300).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    def blocks(df: DataFrame): Int = {
      val r = Graphs.pageRank(df, "src", "dst", 2)
      try r.rdd.getNumPartitions finally Graphs.unpin(r)
    }
    // the default 1 MB minimum partition size holds the whole graph
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    val local = s.createDataFrame(e).toDF("src", "dst")
    assert(blocks(local) == 1)
    // a third of the estimate per block: three blocks
    val bytes = local.queryExecution.optimizedPlan.stats.sizeInBytes
    val third = spark.newSession()
    third.conf.set("spark.sql.shuffle.partitions", "7")
    third.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    third.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", (bytes / 3 + 1).toString)
    assert(blocks(third.createDataFrame(e).toDF("src", "dst")) == 3)
    // one-byte targets: clamped to the shuffle partitions
    assert(blocks(blocksAt(7).createDataFrame(e).toDF("src", "dst")) == 7)
    // an RDD has no size estimate: the shuffle partitions, however small
    assert(blocks(s.createDataFrame(s.sparkContext.parallelize(e)).toDF("src", "dst")) == 7)
  }

  test("reliable-checkpoint mode: results match the replays and survive block release") {
    val sc = spark.sparkContext
    withTempDir("graft-graphs-ckpt-") { dir =>
      sc.setCheckpointDir(dir.toString)
      try {
        val rnd = new scala.util.Random(17)
        val e = (1 to 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        val df = e.toDF("src", "dst")
        val pr = Graphs.pageRank(df, "src", "dst", 4)
        val lp = Graphs.labelPropagation(df, "src", "dst", 3)
        val kc = Graphs.kCore(df, "src", "dst", 3)
        def read() = (pr.as[(Long, Long)].collect().toMap, lp.as[(Long, Long)].collect().toMap,
          kc.as[(Long, Long)].collect().toMap)
        val want = (naivePr(e, 4), naiveLpa(e, 3), naiveCore(e, 3, None))
        assert(read() == want)
        Seq(pr, lp, kc).foreach(Graphs.unpin)
        assert(read() == want, "a result changed after its blocks were released")
      } finally {
        // restore the no-dir default for the other suites (the field is
        // private; reflection is the only unset path)
        val f = sc.getClass.getDeclaredField("checkpointDir")
        f.setAccessible(true)
        f.set(sc, None)
      }
    }
  }

  test("an integer overflow fails loudly, as ANSI SQL arithmetic does") {
    // two parallel edges whose summed weight exceeds 2^63
    val big = Long.MaxValue / 2 + 1
    val ex = intercept[Exception] {
      Graphs.weightedPageRank(Seq((1L, 2L, big), (1L, 2L, big)).toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 1)
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), s"not an overflow: $ex")
  }

  test("Pins.releaseAll reclaims pins leaked by callers that skip unpin") {
    // a "leaked" pin: materialized result, unpin never called
    val r = Graphs.pageRank(
      Seq((5L, 6L), (6L, 5L)).toDF("src", "dst"), "src", "dst", iterations = 2)
    r.count()
    val leaked = Pins.registered(r)
    assert(leaked.nonEmpty &&
      leaked.forall(spark.sparkContext.getPersistentRDDs.contains))
    val n = Curation.releaseAllPins(spark)
    assert(n >= leaked.size, s"releaseAll freed $n, leaked ${leaked.size}")
    assert(leaked.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "releaseAll must unpersist the leaked blocks")
    assert(Pins.registered(r).isEmpty, "registry must be cleared")
  }
}
