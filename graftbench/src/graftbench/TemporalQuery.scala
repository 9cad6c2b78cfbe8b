package graftbench

import java.time.Instant
import java.util.SplittableRandom

import graft.mql.{Compiler, DateRange, Parser}
import graft.store.Container
import graft.temporal.TemporalOps._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One version of a generated object. */
final case class ObjRow(
    oid: Long,
    start: Double,
    end: Option[Double],
    status: String,
    priority: Int,
    team: String,
    tags: Seq[String],
    title: String)

/** Versioned objects and their closed-form generator: every version is
  * a pure function of (seed, oid), so Spark generates the table in
  * parallel and the checks replay the same function on the driver.
  */
object ObjGen {
  val T0 = 1577836800.0 // 2020-01-01T00:00:00Z
  val Day = 86400
  val Versions = 5
  val Statuses: Array[String] = Array("open", "pending", "review", "closed")
  val Teams: Array[String] = Array.tabulate(12)(i => f"t$i%02d")
  val Tags: Array[String] = Array.tabulate(16)(i => f"g$i%02d")

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def versions(seed: Long, oid: Long): Seq[ObjRow] = {
    val r = new SplittableRandom(mix(seed, oid))
    var t = T0 + r.nextInt(365 * Day)
    (0 until Versions).map { v =>
      val start = t
      t += Day * (1 + r.nextInt(120)) + r.nextInt(Day)
      val nTags = r.nextInt(4)
      val tags = Seq.fill(nTags)(Tags(r.nextInt(Tags.length))).distinct.sorted
      ObjRow(oid, start, if (v == Versions - 1) None else Some(t),
        Statuses(r.nextInt(Statuses.length)), 1 + r.nextInt(5),
        Teams(r.nextInt(Teams.length)), tags, s"object $oid version $v ${r.nextLong()}")
    }
  }

  def iso(t: Double): String = Instant.ofEpochSecond(t.toLong).toString
}

/** `temporal_query`: short MQL and temporal reads against a persisted
  * versioned container. An item is one six-call report.
  */
final class TemporalQuery(
    spark: SparkSession,
    seed: Long,
    tiny: Boolean,
    work: String,
    tracer: Tracer) extends Workload {
  import ObjGen._

  private val nOids = if (tiny) 2000 else 10000
  val warmupItems: Int = if (tiny) 2 else 8
  private val ItemSeconds = 1.1 // nominal steady-state item cost used to size a run

  def timedItems(seconds: Int): Int = math.max(3, math.round(seconds / ItemSeconds).toInt)

  /** Warm-up items run on four client threads. The timed items still
    * start above steady state; graftbench/STEADINESS.md has the numbers.
    */
  override def warmup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val done = (1 to warmupItems).map { k =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = { item(-k); check(-k) } })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
  }

  // columnar copy of the table for the checks
  private val n = nOids * Versions
  private val oidA = new Array[Long](n)
  private val startA = new Array[Double](n)
  private val endA = new Array[Double](n) // NaN = current version
  private val statusA = new Array[Byte](n)
  private val prioA = new Array[Byte](n)
  private val teamA = new Array[Byte](n)
  private val tagsA = new Array[Int](n) // bit mask over Tags
  private var digest = ""
  private var c: Container = _

  def setup(items: Int): Unit = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    var k = 0
    for (o <- 0L until nOids; r <- versions(seed, o)) {
      oidA(k) = o
      startA(k) = r.start
      endA(k) = r.end.getOrElse(Double.NaN)
      statusA(k) = Statuses.indexOf(r.status).toByte
      prioA(k) = r.priority.toByte
      teamA(k) = Teams.indexOf(r.team).toByte
      tagsA(k) = r.tags.map(t => 1 << Tags.indexOf(t)).sum
      sha.update(r.toString.getBytes("UTF-8"))
      k += 1
    }
    digest = sha.digest().map(b => f"$b%02x").mkString

    import spark.implicits._
    val s = seed
    val rows = spark.range(nOids).flatMap(o => ObjGen.versions(s, o))
    val raw = rows.toDF()
    val wrapped = graft.model.Meta.wrap(
      raw, col("oid"), 0.0, start = Some(col("start")), end = Some(col("end")),
      dataCols = Some(Seq("status", "priority", "team", "tags", "title")))
      .drop("oid", "start", "end")
    c = new Container(spark, "objects", wrapped, Some(s"$work/objects")).save()
  }

  private final case class Params(
      q1: String, d2: String, q2: String, d3: String, q3: String,
      q4: String, q5: String, grid: Seq[Double], q6: String,
      st1: Int, p1: Int, at2: Double, teams2: Set[Int], a3: Double, b3: Double, tag3: Int,
      p4: Int, team5: Int, p6: Int, st6: Int)

  private def params(i: Int): Params = {
    val r = new SplittableRandom(mix(seed * 31 + 7, i.toLong))
    val st1 = r.nextInt(Statuses.length); val p1 = 1 + r.nextInt(5)
    val at2 = T0 + Day.toDouble * r.nextInt(600)
    val ta = r.nextInt(Teams.length); val tb = (ta + 1 + r.nextInt(Teams.length - 1)) % Teams.length
    val a3 = T0 + Day.toDouble * r.nextInt(500); val b3 = a3 + Day.toDouble * (10 + r.nextInt(80))
    val tag3 = r.nextInt(Tags.length)
    val p4 = 1 + r.nextInt(5)
    val team5 = r.nextInt(Teams.length)
    val g0 = T0 + Day.toDouble * r.nextInt(400)
    val grid = (0 until 26).map(w => g0 + 7.0 * Day * w)
    val p6 = 1 + r.nextInt(5); val st6 = r.nextInt(Statuses.length)
    Params(
      q1 = s"status == '${Statuses(st1)}' and priority >= $p1",
      d2 = iso(at2),
      q2 = s"team in ['${Teams(ta)}', '${Teams(tb)}']",
      d3 = s"${iso(a3)}~${iso(b3)}",
      q3 = s"tags == '${Tags(tag3)}'",
      q4 = s"priority <= $p4",
      q5 = s"team == '${Teams(team5)}'",
      grid = grid,
      q6 = s"priority <= $p6 and status != '${Statuses(st6)}'",
      st1, p1, at2, Set(ta, tb), a3, b3, tag3, p4, team5, p6, st6)
  }

  private final case class Out(
      r1: Long, r2: Long, r3: Long, r4: Seq[String], r5: Seq[(Double, Long)], r6: Long)
  private val outs = new java.util.concurrent.ConcurrentHashMap[Int, Out]()

  /** Traced items also time MQL parse and compile on their own. */
  private def mql(query: String, date: String): Unit =
    if (tracer.active) {
      val full = DateRange.fullQuery(Option(query), Option(date)).get
      val ast = tracer.call("mql", "parse")(Parser.parse(full))
      tracer.call("mql", "compile")(Compiler.compile(ast, c.df.schema))
    }

  def item(i: Int): Unit = {
    val p = params(i)
    mql(p.q1, null)
    val r1 = tracer.call("store", "count")(c.count(p.q1, date = null))
    mql(p.q2, p.d2)
    val f2 = tracer.call("store", "find")(c.find(p.q2, date = p.d2))
    val r2 = tracer.call("store", "scan")(f2.count())
    mql(p.q3, p.d3)
    val f3 = tracer.call("store", "find")(c.find(p.q3, date = p.d3))
    val r3 = tracer.call("store", "scan")(f3.count())
    mql(p.q4, null)
    val r4 = tracer.call("store", "distinct")(
      c.distinct("tags", p.q4, date = null).collect().map(_.getString(0)).toSeq)
    mql(p.q5, "~")
    val f5 = tracer.call("store", "find")(c.find(p.q5, date = "~"))
    val r5 = tracer.call("temporal", "history")(
      f5.history(p.grid).collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq)
    mql(p.q6, "~")
    val f6 = tracer.call("store", "find")(c.find(p.q6, date = "~"))
    val r6 = tracer.call("temporal", "last_version")(f6.lastVersion.count())
    outs.put(i, Out(r1, r2, r3, r4, r5, r6))
  }

  def check(i: Int): Unit = {
    val p = params(i)
    val o = outs.remove(i)
    var e1, e2, e3, m4, m5, m6 = 0L
    val tags4 = new java.util.TreeSet[String]()
    val alive5 = new Array[Long](p.grid.size)
    val oids6 = new java.util.BitSet(nOids)
    var k = 0
    while (k < n) {
      val cur = endA(k).isNaN
      val s = startA(k); val e = endA(k)
      if (cur && statusA(k) == p.st1 && prioA(k) >= p.p1) e1 += 1
      if (s < p.at2 && (cur || e >= p.at2) && p.teams2(teamA(k))) e2 += 1
      if (s < p.b3 && (cur || e >= p.a3) && (tagsA(k) & (1 << p.tag3)) != 0) e3 += 1
      if (cur && prioA(k) <= p.p4) {
        m4 += 1
        for (t <- Tags.indices if (tagsA(k) & (1 << t)) != 0) tags4.add(Tags(t))
      }
      if (teamA(k) == p.team5) {
        m5 += 1
        var g = 0
        while (g < p.grid.size) {
          val d = p.grid(g)
          if (s <= d && (cur || e > d)) alive5(g) += 1
          g += 1
        }
      }
      if (prioA(k) <= p.p6 && statusA(k) != p.st6) { m6 += 1; oids6.set(oidA(k).toInt) }
      k += 1
    }
    import scala.jdk.CollectionConverters._
    val e4 = tags4.asScala.toSeq
    val e5 = p.grid.zip(alive5).filter(_._2 > 0)
    def expect[T](what: String, got: T, want: T): Unit =
      if (got != want) throw new CheckFailed(s"temporal_query item $i $what: got $got, want $want")
    expect("count", o.r1, e1)
    expect("as-of find", o.r2, e2)
    expect("range find", o.r3, e3)
    expect("distinct", o.r4, e4)
    expect("history", o.r5, e5)
    expect("lastVersion", o.r6, oids6.cardinality().toLong)
    if (tracer.active) facts("store.rows_matched") += (e1 + e2 + e3 + m4 + m5 + m6).toDouble
  }

  def inputDigest: String = digest
}
