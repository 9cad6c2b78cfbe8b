package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.functions.{Curation, Graphs}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `graph_iterate`: one seeded edge table with planted communities. An
  * item is one pass of pageRank(8), labelPropagation(5) and kCore(4)
  * to fixpoint, after which every pin is released.
  */
final class GraphIterate(
    spark: SparkSession,
    seed: Long,
    tiny: Boolean,
    work: String,
    tracer: Tracer) extends Workload {

  private val communities = if (tiny) 20 else 200
  private val core = 20 // ring-lattice core nodes per community
  private val pendants = 4 // degree 1-2 nodes, peeled by kCore in round 1
  private val size = core + pendants + 3 // + a 3-node tail peeled over rounds 1-3
  private val K = 4
  val warmupItems: Int = 1
  private val ItemSeconds = 4.0 // nominal pass cost used to size a run

  def timedItems(seconds: Int): Int = math.max(1, math.round(seconds / ItemSeconds).toInt)

  private var edges: DataFrame = _
  private var src: Array[Long] = _
  private var dst: Array[Long] = _
  private var endpoints: Set[Long] = _
  private var survivors: Map[Long, Long] = _ // expected kCore node -> residual degree
  private var kcoreRounds = 0
  private var digest = ""
  private var reference: Option[(Long, Long, Long)] = None
  private val outs = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Row], Array[Row], Array[Row])]()

  def setup(items: Int): Unit = {
    val r = new SplittableRandom(ObjGen.mix(seed, 0x6a4bL))
    val s = mutable.ArrayBuilder.make[Long]
    val d = mutable.ArrayBuilder.make[Long]
    def edge(u: Long, v: Long): Unit = { s += u; d += v }
    // Every community has the same shape, so kCore always takes four
    // rounds and a pass costs the same on every seed: a ring-lattice
    // core (degree >= 6) with seeded chords and cross-community links,
    // pendants on seeded core nodes, and a tail t1-t2-t3 in which each
    // peel round drops the next tail node below degree k.
    for (c <- 0 until communities) {
      val base = c.toLong * size
      def coreNode(j: Int): Long = base + j
      def anyCore(): Long = coreNode(r.nextInt(core))
      for (j <- 0 until core) {
        (1 to 3).foreach(h => edge(coreNode(j), coreNode((j + h) % core)))
        (0 until r.nextInt(3)).foreach { _ =>
          val v = anyCore(); if (v != coreNode(j)) edge(coreNode(j), v)
        }
        if (r.nextInt(10) == 0) {
          val other = (c + 1 + r.nextInt(communities - 1)) % communities
          edge(coreNode(j), other.toLong * size + r.nextInt(core))
        }
      }
      for (p <- 0 until pendants) {
        val u = base + core + p
        edge(u, anyCore())
        if (r.nextBoolean()) edge(u, anyCore())
      }
      val Seq(t1, t2, t3) = (0 until 3).map(x => base + core + pendants + x)
      val Seq(a, b, x, y, z) = (0 until 5).map(q => coreNode((q * 4 + r.nextInt(4)) % core))
      edge(t1, t2); edge(t1, a)
      edge(t2, t3); edge(t2, b); edge(t2, x)
      edge(t3, y); edge(t3, z); edge(t3, a)
    }
    src = s.result(); dst = d.result()
    endpoints = (src.iterator ++ dst.iterator).toSet
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(16)
    src.indices.foreach { k => bb.clear(); bb.putLong(src(k)).putLong(dst(k)); sha.update(bb.array()) }
    digest = sha.digest().map(b => f"$b%02x").mkString
    peel()

    import spark.implicits._
    src.zip(dst).toSeq.toDF("src", "dst").write.parquet(s"$work/edges")
    edges = spark.read.parquet(s"$work/edges")
  }

  /** The synchronous peel of `Graphs.kCore`, replayed on the driver. */
  private def peel(): Unit = {
    var e: Set[(Long, Long)] = src.indices.iterator
      .filter(k => src(k) != dst(k))
      .flatMap(k => Iterator((src(k), dst(k)), (dst(k), src(k)))).toSet
    var done = false
    kcoreRounds = 0
    while (!done && e.nonEmpty) {
      val deg = e.groupBy(_._1).map { case (n, es) => n -> es.size }
      val next = e.filter { case (a, b) => deg(a) >= K && deg(b) >= K }
      kcoreRounds += 1
      done = next.size == e.size
      e = next
    }
    survivors = e.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
  }

  /** Order-independent hash of a result's rows. */
  private def hash(rows: Array[Row]): Long =
    rows.iterator.map(r => ObjGen.mix(r.getLong(0), r.getLong(1))).sum

  private def pass(i: Int): Unit = {
    val pr = tracer.call("graphs", "pagerank")(Graphs.pageRank(edges, "src", "dst", 8).collect())
    val lp = tracer.call("graphs", "label_prop")(
      Graphs.labelPropagation(edges, "src", "dst", 5).collect())
    val kc = tracer.call("graphs", "kcore")(Graphs.kCore(edges, "src", "dst", K).collect())
    outs.put(i, (pr, lp, kc))
  }

  def item(i: Int): Unit = {
    pass(i)
    if (tracer.active) {
      val info = spark.sparkContext.getRDDStorageInfo
      facts("pins.live_blocks") += info.map(_.numCachedPartitions).sum.toDouble
      facts("pins.storage_bytes") += info.map(x => x.memSize + x.diskSize).sum.toDouble
      facts("graphs.rounds") += (8 + 5 + kcoreRounds).toDouble
    }
    val released = tracer.call("pins", "release")(Curation.releaseAllPins(spark))
    if (tracer.active) facts("pins.released") += released.toDouble
  }

  def check(i: Int): Unit = {
    val (pr, lp, kc) = outs.remove(i)
    def fail(msg: String) = throw new CheckFailed(s"graph_iterate item $i: $msg")
    if (pr.length != endpoints.size) fail(s"pageRank rows ${pr.length} != endpoints ${endpoints.size}")
    if (lp.length != endpoints.size) fail(s"labelPropagation rows ${lp.length} != endpoints ${endpoints.size}")
    if (!lp.forall(r => endpoints(r.getLong(1)))) fail("a label is not a node id")
    val got = kc.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (got != survivors) fail(s"kCore survivors ${got.size} differ from the replayed peel ${survivors.size}")
    if (got.values.exists(_ < K)) fail("a kCore survivor has residual degree < k")
    val hashes = (hash(pr), hash(lp), hash(kc))
    reference match {
      case None => reference = Some(hashes)
      case Some(ref) => if (ref != hashes) fail(s"result hashes $hashes != warm-up hashes $ref")
    }
  }

  def inputDigest: String = digest
}
