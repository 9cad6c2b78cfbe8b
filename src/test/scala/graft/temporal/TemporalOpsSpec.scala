package graft.temporal

import graft.SparkSpec
import graft.temporal.TemporalOps._
import graft.store.Container
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Temporal analytics vs an independently-computed in-memory oracle
  * over seeded random version chains (mirrors test_result.py:23-63).
  */
class TemporalOpsSpec extends SparkSpec {

  case class V(oid: Long, start: Double, end: Option[Double], lala: Int)

  /** ~40 oids × 1..8 versions; consecutive versions share boundaries;
    * ~25% of oids end with an open version. Deterministic (seed 7).
    */
  private lazy val chains: Seq[V] = chainsOf(7)

  private def chainsOf(seed: Long): Seq[V] = {
    val rng = new Random(seed)
    (1L to 40L).flatMap { oid =>
      val n = 1 + rng.nextInt(8)
      var t = 100.0 + rng.nextInt(50)
      val open = rng.nextDouble() < 0.25
      (0 until n).map { i =>
        val start = t
        t += 10 + rng.nextInt(90)
        val end = if (i == n - 1 && open) None else Some(t)
        V(oid, start, end, rng.nextInt(1000))
      }
    }
  }

  private val schema = StructType(Seq(
    StructField("_oid", LongType), StructField("_start", DoubleType),
    StructField("_end", DoubleType), StructField("lala", IntegerType)))

  private def rowOf(v: V): Row = Row(v.oid, v.start, v.end.map(Double.box).orNull, v.lala)

  private lazy val df: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(chains.map(rowOf)), schema)

  /** A session of the shared context at `partitions` shuffle partitions. */
  private def sessionAt(partitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }

  test("onDate matches the <=/</open-interval oracle") {
    for (d <- Seq(120.0, 250.0, 400.0)) {
      val expected = chains.count(v => v.start <= d && v.end.forall(_ > d))
      assert(df.onDate(d).count() == expected, s"at $d")
    }
  }

  test("history counts per grid date") {
    val grid = Seq(150.0, 300.0, 450.0)
    val got = df.history(grid).collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    for (d <- grid) {
      val expected = chains.count(v => v.start <= d && v.end.forall(_ > d)).toLong
      assert(got.getOrElse(d, 0L) == expected, s"at $d")
    }
  }

  test("persistentOidCounts is cumulative distinct-oid count") {
    val grid = Seq(150.0, 500.0)
    val got = df.persistentOidCounts(grid).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    for (d <- grid) {
      val expected = chains.filter(_.start <= d).map(_.oid).distinct.size.toLong
      assert(got.getOrElse(d, 0L) == expected, s"at $d")
    }
  }

  test("unfinishedObjects keeps all versions of oids with an open version (test_result.py:58-63)") {
    val openOids = chains.filter(_.end.isEmpty).map(_.oid).toSet
    val got = df.unfinishedObjects().select("_oid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got == openOids)
    // and row count = all versions of those oids
    assert(df.unfinishedObjects().count() == chains.count(v => openOids(v.oid)))
  }

  test("oneVersion / firstVersion / lastVersion") {
    val first = df.firstVersion.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val last = df.lastVersion.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val second = df.oneVersion(1).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    chains.groupBy(_.oid).foreach { case (oid, vs) =>
      val sorted = vs.sortBy(_.start)
      assert(first(oid) == sorted.head.start)
      assert(last(oid) == sorted.last.start)
      if (sorted.size >= 2) assert(second(oid) == sorted(1).start)
      else assert(!second.contains(oid))
    }
  }

  test("lastVersionsWithAge") {
    val cutoff = 400.0
    val got = df.lastVersionsWithAge(cutoff).collect()
      .map(r => r.getAs[Long]("_oid") -> r.getAs[Double]("age")).toMap
    chains.groupBy(_.oid).foreach { case (oid, vs) =>
      val sorted = vs.sortBy(_.start)
      val firstStart = sorted.head.start
      val lastV = sorted.last
      val expected = math.min(lastV.end.getOrElse(cutoff), cutoff) - firstStart
      assert(math.abs(got(oid) - expected) < 1e-9, s"oid $oid")
    }
  }

  test("startedAfter") {
    val d = 130.0
    val expected = chains.groupBy(_.oid).filter(_._2.map(_.start).min > d).keySet
    val got = df.startedAfter(d).select("_oid").distinct().collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("lastChain keeps the trailing gap-free run") {
    // built chains are gap-free, so lastChain == identity there; check
    // a hand-made gapped history
    val rows = Seq(
      Row(1L, 10.0, Double.box(20.0), 0),
      Row(1L, 20.0, Double.box(30.0), 1), // chain 1 ends: gap after 30
      Row(1L, 50.0, Double.box(60.0), 2),
      Row(1L, 60.0, null, 3)) // chain 2 = last
    val g = spark.createDataFrame(spark.sparkContext.parallelize(rows), df.schema)
    val kept = g.lastChain().collect().map(_.getInt(3)).sorted
    assert(kept.toSeq == Seq(2, 3))
    // gap-free history passes through whole
    assert(df.lastChain().count() == chains.size)
  }

  test("filterOids") {
    assert(df.filterOids(Seq(1L, 2L)).select("_oid").distinct().count() == 2)
  }

  test("datesRange picks a sane grid; linregFuture extrapolates") {
    val grid = TemporalOps.datesRange(0.0, 86400.0 * 100, scale = "weekly")
    assert(grid.head == 0.0 && grid.last == 86400.0 * 100)
    assert(grid.size >= 14 && grid.size <= 16)
    val auto = TemporalOps.datesRange(0.0, 86400.0 * 1000, scale = "auto", ideal = 300)
    assert(auto.size <= 302)
    // y = 2x + 1 fits exactly; clamped at 0
    val ys = TemporalOps.linregFuture(Seq(0, 1, 2, 3), Seq(1, 3, 5, 7), Seq(10, -100))
    assert(math.abs(ys.head - 21.0) < 1e-9)
    assert(ys(1) == 0.0)
    // the exact-sums formulation agrees with the centered one on an
    // exact-fit series and is invariant to the shift origin
    val ye = TemporalOps.linregFutureExact(
      Seq(0, 1, 2, 3), Seq(1, 3, 5, 7), Seq(10, -100), x0 = 0.0)
    assert(math.abs(ye.head - 21.0) < 1e-9 && ye(1) == 0.0)
    val ye2 = TemporalOps.linregFutureExact(
      Seq(1e9, 1e9 + 1, 1e9 + 2, 1e9 + 3), Seq(1, 3, 5, 7), Seq(1e9 + 10), x0 = 1e9)
    assert(math.abs(ye2.head - 21.0) < 1e-9)
  }

  test("changeFeed: opens at _start >= t, closes at _end >= t, rotation pairs") {
    val t = 300.0
    val got = df.changeFeed(t)
      .select(col("_oid"), col("change_op"), col("change_at"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val expected =
      chains.filter(_.start >= t).map(v => (v.oid, "open", v.start)).toSet ++
      chains.collect { case v if v.end.exists(_ >= t) => (v.oid, "close", v.end.get) }
    assert(got == expected, s"diff: ${(got diff expected) ++ (expected diff got)}")
    // a mid-chain version rotated after t contributes close(old) AND
    // open(new) at the same boundary — the standard change pair
    val rotated = chains.groupBy(_.oid).values.flatMap { vs =>
      vs.sortBy(_.start).sliding(2).collect {
        case Seq(a, b) if a.end.contains(b.start) && b.start >= t => (a.oid, b.start)
      }
    }
    assert(rotated.nonEmpty, "fixture lost its rotations")
    rotated.foreach { case (oid, at) =>
      assert(got.contains((oid, "close", at)) && got.contains((oid, "open", at)),
        s"rotation pair missing at ($oid, $at)")
    }
    // open versions never emit a close
    assert(!got.exists { case (oid, op, at) =>
      op == "close" && !chains.exists(v => v.oid == oid && v.end.contains(at)) })
  }

  test("datesRangeMaximum: all distinct version boundaries in window") {
    val lo = 150.0; val hi = 400.0
    val expected = chains
      .flatMap(v => v.start +: v.end.toSeq)
      .filter(b => b >= lo && b <= hi)
      .distinct.sorted
    val grid = TemporalOps.datesRangeMaximum(df, lo, hi)
    assert(grid == expected)
    // a history over the maximum grid changes value at every point
    // only at boundaries — sampling between two adjacent boundaries
    // equals sampling at the earlier one
    assert(grid == grid.sorted && grid.distinct == grid)
    // scale=maximum via the scalar API points at the data-aware variant
    intercept[IllegalArgumentException] {
      TemporalOps.datesRange(0.0, 1.0, scale = "maximum")
    }
  }

  test("datesRangeMaximum refuses an over-cap collect and names the fallback") {
    // the boundary count is checked BEFORE any row reaches the driver;
    // the error must name the fixed-scale fallback so a 100 TB caller
    // knows the recovery path
    val e = intercept[IllegalArgumentException] {
      TemporalOps.datesRangeMaximum(df, 0.0, 1e12, maxPoints = 3)
    }
    assert(e.getMessage.contains("maxPoints=3"))
    assert(e.getMessage.contains("datesRange(start, end"))
    // same window under a sufficient cap still returns the full grid
    val grid = TemporalOps.datesRangeMaximum(df, 150.0, 400.0, maxPoints = 100000)
    assert(grid.nonEmpty)
    intercept[IllegalArgumentException] {
      TemporalOps.datesRangeMaximum(df, 0.0, 1.0, maxPoints = 0)
    }
  }

  test("rollingAgg: trailing RANGE frame includes simultaneous events") {
    import spark.implicits._
    val ev = Seq(
      (1L, 0L, 1.0), (1L, 50L, 2.0), (1L, 100L, 4.0),
      (1L, 100L, 8.0),  // simultaneous with the previous event
      (1L, 161L, 16.0), // frame [101, 161] starts after the burst at 100
      (2L, 0L, 32.0))
      .toDF("k", "ts", "v")
    val out = TemporalOps.rollingAgg(ev, Seq("k"), "ts", trailing = 60L,
        Map("n" -> count(lit(1)), "s" -> sum(col("v"))))
      .orderBy("k", "ts", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 0L, 1L, 1.0),
      (1L, 50L, 2L, 3.0),     // [−10, 50]: rows at 0, 50
      (1L, 100L, 3L, 14.0),   // [40, 100]: 50 + both rows at 100
      (1L, 100L, 3L, 14.0),   // simultaneous rows share the frame
      (1L, 161L, 1L, 16.0),   // [101, 161]: nothing earlier qualifies
      (2L, 0L, 1L, 32.0)))    // keys are independent
    // an output name shadowing an input column would silently corrupt
    // later frames — rejected up front
    intercept[IllegalArgumentException] {
      TemporalOps.rollingAgg(ev, Seq("k"), "ts", 60L, Map("ts" -> count(lit(1))))
    }
  }

  // ---------------------------------------------------------------- sweeps

  /** `history` as the broadcast range join it was before the sweep. */
  private def historyByJoin(v: DataFrame, dates: Seq[Double]): DataFrame = {
    import v.sparkSession.implicits._
    v.join(
        broadcast(dates.toDF("date")),
        col("_start") <= col("date") && (col("_end") > col("date") || col("_end").isNull))
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n"))
      .orderBy("date")
  }

  /** `persistentOidCounts` as the join it was before the sweep. */
  private def persistentByJoin(v: DataFrame, dates: Seq[Double]): DataFrame = {
    import v.sparkSession.implicits._
    v.groupBy("_oid").agg(min("_start").as("first_start"))
      .join(broadcast(dates.toDF("date")), col("first_start") <= col("date"))
      .groupBy("date")
      .agg(countDistinct("_oid").as("n"))
      .orderBy("date")
  }

  /** Rows in order, dates by their bits so −0.0 and 0.0 differ. */
  private def bitsOf(d: DataFrame): Seq[(Long, Long)] =
    d.collect().toSeq.map(r => (java.lang.Double.doubleToLongBits(r.getDouble(0)), r.getLong(1)))

  private val GridSchema = StructType(Seq(
    StructField("date", DoubleType, nullable = false),
    StructField("n", LongType, nullable = false)))

  test("history and persistentOidCounts match the join formulas at shuffle partitions 1 and 7") {
    // rows the random chains lack: a NaN end, a NaN start, −0.0 bounds,
    // a null start and a null oid
    val odd = Seq(
      Row(500L, 130.0, Double.box(Double.NaN), 1),
      Row(501L, Double.NaN, null, 2),
      Row(502L, -0.0, Double.box(150.0), 3),
      Row(503L, -0.0, Double.box(0.0), 4),
      Row(504L, null, null, 5),
      Row(null, 120.0, null, 6),
      Row(null, 140.0, Double.box(260.0), 7))
    for (seed <- Seq(11L, 12L)) {
      val vs = chainsOf(seed)
      val bounds = vs.flatMap(v => v.start +: v.end.toSeq).distinct
      val hits = new Random(seed).shuffle(bounds).take(12)
      val grids = Seq(
        "exact bounds" -> hits.sorted,
        "unsorted with duplicates" -> (hits ++ hits.take(4)),
        "empty" -> Seq.empty[Double],
        "NaN and signed zeros" -> Seq(Double.NaN, 300.0, 0.0, -0.0, 150.0, Double.NaN, 130.0),
        "wide" -> (0 to 30).map(_ * 25.0))
      for (partitions <- Seq(1, 7)) {
        val s = sessionAt(partitions)
        val v = s.createDataFrame(s.sparkContext.parallelize(vs.map(rowOf) ++ odd, 3), schema)
        for ((name, grid) <- grids) {
          val what = s"seed $seed, $name grid, $partitions partitions"
          val h = v.history(grid)
          assert(h.schema == GridSchema, what)
          assert(bitsOf(h) == bitsOf(historyByJoin(v, grid)), s"history, $what")
          val p = v.persistentOidCounts(grid)
          assert(p.schema == GridSchema, what)
          assert(bitsOf(p) == bitsOf(persistentByJoin(v, grid)), s"persistentOidCounts, $what")
        }
      }
    }
  }

  test("read shapes: history in one job with no nested-loop join, distinct in two, picks with no Window") {
    val grid = (0 until 26).map(w => 100.0 + 20.0 * w)
    var hist: DataFrame = null
    val (historyJobs, _, _, _) = jobsOf { hist = df.history(grid); hist.collect() }
    assert(historyJobs <= 1, s"history ran $historyJobs jobs")
    val histPlan = hist.queryExecution.executedPlan.toString
    assert(!histPlan.contains("BroadcastNestedLoopJoin"), histPlan)

    val c = new Container(spark, "shapes", df)
    val (distinctJobs, _, _, _) = jobsOf(c.distinct("lala").collect())
    assert(distinctJobs <= 2, s"Container.distinct ran $distinctJobs jobs")
    assert(c.distinct("lala").collect().map(_.getInt(0)).toSeq == chains.map(_.lala).distinct.sorted)

    for ((name, picked) <- Seq(
        "lastVersion" -> df.lastVersion,
        "firstVersion" -> df.firstVersion,
        "lastVersionsWithAge" -> df.lastVersionsWithAge(400.0))) {
      val plan = picked.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name plans a window:\n$plan")
    }
  }

  test("tie-free picks give identical rows at shuffle partitions 1 and 7, equal to the row_number picks") {
    assert(chains.groupBy(_.oid).values.forall(vs => vs.map(_.start).distinct.size == vs.size),
      "fixture has tied starts")
    // a null _start sorts first ascending and last descending
    val nullStarts = Seq(Row(900L, null, Double.box(5.0), 1), Row(900L, 5.0, null, 2), Row(901L, null, null, 3))
    def byRank(v: DataFrame, first: Boolean): DataFrame = {
      val w = Window.partitionBy("_oid")
        .orderBy(if (first) col("_start").asc else col("_start").desc)
      v.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
    def rowsAt(partitions: Int): Seq[Seq[Row]] = {
      val s = sessionAt(partitions)
      val v = s.createDataFrame(s.sparkContext.parallelize(chains.map(rowOf) ++ nullStarts, 5), schema)
      Seq(
        v.firstVersion, byRank(v, first = true),
        v.lastVersion, byRank(v, first = false),
        v.lastVersionsWithAge(400.0))
        .map(_.orderBy("_oid").collect().toSeq)
    }
    val one = rowsAt(1)
    assert(one == rowsAt(7))
    assert(one(0) == one(1), "firstVersion differs from the row_number pick")
    assert(one(2) == one(3), "lastVersion differs from the row_number pick")
    assert(one(4).map(_.toSeq.dropRight(1)) == one(3).map(_.toSeq), "lastVersionsWithAge columns")
  }
}
