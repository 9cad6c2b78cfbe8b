package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.etl.{Loaders, Prep}
import graft.model.Meta
import graft.store.IncrementalStore
import graft.temporal.TemporalOps._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** `scd2_ingest`: a fixed sequence of seeded JSON batches flushed into
  * an SCD2 store. An item is load, prep, wrap, flush (and a history
  * compaction every [[CompactEvery]]-th batch); after each item a
  * current-snapshot read and an as-of read over history and current
  * are timed on their own.
  */
final class Scd2Ingest(
    spark: SparkSession,
    seed: Long,
    tiny: Boolean,
    work: String,
    tracer: Tracer) extends Workload {
  import ObjGen.{mix, Teams, Tags}

  private val nBase = if (tiny) 2000 else 20000
  private val batchRows = if (tiny) 400 else 5000
  // every batch: 40% new objects, 40% changed, 20% unchanged content
  private val nNew = batchRows * 4 / 10
  private val nChanged = batchRows * 4 / 10
  private val nSame = batchRows - nNew - nChanged
  private val CompactEvery = 4
  private val BatchSeconds = 2.0 // nominal item cost used to size a run
  private val T0 = 1609459200.0 // 2021-01-01T00:00:00Z
  val warmupItems: Int = 2

  def timedItems(seconds: Int): Int = math.max(2, math.round(seconds / BatchSeconds).toInt)

  private val DataCols = Seq("n", "name", "oid", "score", "tags", "team")
  private val schema = Map(
    "score" -> Prep.FieldSpec(DoubleType),
    "tags" -> Prep.FieldSpec(StringType, container = true),
    "n" -> Prep.FieldSpec(LongType))

  private def root = s"$work/store"
  private var store: IncrementalStore = _
  private var ver: Array[Int] = _ // content version per oid; -1 = not yet created
  private var created = 0 // objects created so far
  private var expectCurrent = 0L
  private var expectHistory = 0L
  private var userBytes = 0L
  private var digest = ""
  private val sha = java.security.MessageDigest.getInstance("SHA-256")
  private var lastReads: (Long, Long) = (0L, 0L)

  /** Batch `b` (0 = the base load) covers item index `b - warmupItems - 1`. */
  private def batchOf(i: Int): Int = i + warmupItems + 1
  private def at(b: Int): Double = T0 + 3600.0 * b
  private def file(b: Int): String = f"$work/batches/b$b%04d.json"

  /** Object content as a JSON object: a pure function of (seed, oid, v). */
  private def content(oid: Long, v: Int): String = {
    val r = new SplittableRandom(mix(mix(seed, oid), v.toLong))
    val tags = Seq.fill(r.nextInt(4))(Tags(r.nextInt(Tags.length))).distinct.sorted
    val team = Teams(r.nextInt(Teams.length))
    val cents = r.nextInt(100000)
    s"""{"oid":$oid,"name":"obj-$oid","team":"$team",""" +
      f""""score":"${cents / 100}%d.${cents % 100}%02d","n":$v,""" +
      tags.map("\"" + _ + "\"").mkString("\"tags\":[", ",", "]}")
  }

  private def team(oid: Long, v: Int): Int = {
    val r = new SplittableRandom(mix(mix(seed, oid), v.toLong))
    val nt = r.nextInt(4)
    (0 until nt).foreach(_ => r.nextInt(Tags.length))
    r.nextInt(Teams.length)
  }

  /** Write batch `b`'s file and advance the expected store state. */
  private def writeBatch(b: Int, r: SplittableRandom): Unit = {
    val rows = Seq.newBuilder[String]
    if (b == 0) {
      (0 until nBase).foreach { o => ver(o) = 0; rows += content(o, 0) }
      created = nBase
      expectCurrent = nBase
    } else {
      val picked = new java.util.BitSet(created)
      def pick(): Int = {
        var o = r.nextInt(created)
        while (picked.get(o)) o = r.nextInt(created)
        picked.set(o); o
      }
      (0 until nChanged).foreach { _ => val o = pick(); ver(o) += 1; rows += content(o, ver(o)) }
      (0 until nSame).foreach { _ => val o = pick(); rows += content(o, ver(o)) }
      (0 until nNew).foreach { _ => val o = created; created += 1; ver(o) = 0; rows += content(o, 0) }
      expectCurrent += nNew
      expectHistory += nChanged
    }
    val bytes = rows.result().mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8)
    sha.update(bytes)
    Files.write(Paths.get(file(b)), bytes)
  }

  private var batches: Int = 0
  private val expected = scala.collection.mutable.Map.empty[Int, (Long, Long, Map[Int, Long])]

  def setup(items: Int): Unit = {
    batches = warmupItems + items
    ver = Array.fill(nBase + batches * nNew)(-1)
    Files.createDirectories(Paths.get(s"$work/batches"))
    val r = new SplittableRandom(mix(seed, 0x5cd2L))
    (0 to batches).foreach { b =>
      writeBatch(b, r)
      // expected state after batch b: current rows, history rows, and
      // current rows per team
      val perTeam = (0 until created).groupBy(o => team(o, ver(o))).map { case (t, os) => t -> os.size.toLong }
      expected(b) = (expectCurrent, expectHistory, perTeam)
    }
    digest = sha.digest().map(x => f"$x%02x").mkString
    store = IncrementalStore.open(spark, "objects", root)
    ingest(0)
  }

  private def ingest(b: Int): Unit = {
    val t = at(b)
    val loaded = tracer.call("etl", "load")(
      Loaders.loadJson(spark, file(b), Loaders.OidColumn("oid"), t))
    val prepped = tracer.call("etl", "prep")(Prep.prep(loaded, schema))
    val wrapped = tracer.call("model", "wrap")(
      Meta.wrap(prepped.drop(Meta.All: _*), col("oid"), t, dataCols = Some(DataCols)))
    tracer.call("store", "flush")(store.flushUpsert(wrapped))
    if (b % CompactEvery == 0) tracer.call("store", "compact")(store.compactHistory(2))
    userBytes += Files.size(Paths.get(file(b)))
  }

  private def files(under: Path = Paths.get(root)): Set[Path] =
    Using.resource(Files.walk(under))(_.iterator().asScala.filter(Files.isRegularFile(_)).toSet)

  def item(i: Int): Unit = {
    val before = if (tracer.active) files() else Set.empty[Path]
    ingest(batchOf(i))
    if (tracer.active) {
      facts("store.files_written") += (files() -- before).size.toDouble
      facts("etl.user_bytes") += Files.size(Paths.get(file(batchOf(i)))).toDouble
    }
  }

  override def reads(i: Int): Option[Double] = {
    val b = batchOf(i)
    val team = Teams(b % Teams.length)
    val t0 = System.nanoTime()
    val cur = tracer.call("store", "read_current")(
      store.currentDf.filter(col("team") === team).count())
    // as of half-way between the previous batch and this one
    val asOf = tracer.call("store", "read_asof")(store.df.onDate(at(b) - 1800).count())
    val dt = (System.nanoTime() - t0) / 1e9
    lastReads = (cur, asOf)
    Some(dt)
  }

  def check(i: Int): Unit = {
    val b = batchOf(i)
    val (cur, asOf) = lastReads
    val (curN, histN, perTeam) = expected(b)
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) throw new CheckFailed(s"scd2_ingest batch $b $what: got $got, want $want")
    expect("current rows of one team", cur, perTeam.getOrElse(b % Teams.length, 0L))
    expect("as-of rows", asOf, expected(b - 1)._1)
    expect("current rows", store.currentDf.count(), curN)
    expect("history rows", store.history.map(_.count()).getOrElse(0L), histN)
    if (tracer.active) {
      facts("store.rows_matched") += (cur + asOf).toDouble
      facts("store.history_files") =
        files(Paths.get(root, "history")).count(_.getFileName.toString.endsWith(".parquet")).toDouble
    }
  }

  override def extraEndToEnd(): Seq[(String, Double, String)] = {
    val bytes = files().iterator.map(Files.size(_)).sum
    Seq(("store_bytes_per_user_byte", bytes.toDouble / userBytes, "ratio"))
  }

  def inputDigest: String = digest
}
