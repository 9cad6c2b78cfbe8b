package graft.temporal

import graft.model.Meta

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal analytics over a versioned-object DataFrame — the Spark
  * counterpart of the reference's pandas `Result` subclass
  * (reference: metrique/result.py:76-510). Import
  * `graft.temporal.TemporalOps._` and call these on any DataFrame
  * carrying `_oid`/`_start`/`_end` (epoch-second Doubles).
  *
  * Each read is answered from small partial aggregates merged into one
  * small result, not from a per-row join or a sort it does not need:
  *   - grid reads (`history`, `persistentOidCounts`) map each version to
  *     indexes into the sorted date grid, sum a per-partition
  *     `Array[Long](G + 1)` of +1/−1 steps in one job, and prefix-sum
  *     the ≤ G counts on the driver into a local DataFrame;
  *   - per-oid picks (`firstVersion`, `lastVersion`,
  *     `lastVersionsWithAge`) are one `groupBy(_oid)` aggregate, so
  *     partial aggregation shrinks the rows before the one shuffle.
  * Operators whose output is a per-row rank or running value
  * (`oneVersion(i)` past the ends, `lastChain`) keep their windows.
  */
object TemporalOps {

  implicit class TemporalDataFrame(val df: DataFrame) extends AnyVal {

    private def oidWindow = Window.partitionBy(Meta.OID)

    /** Snapshot of versions alive at instant `d`:
      * `_start <= d < _end` (null `_end` = open interval).
      * NOTE `<=` on `_start` here vs the strictly-before server-side
      * `date_range` — the reference has BOTH semantics and we preserve
      * each (reference: result.py:164-180 vs parse.py:109-124).
      */
    def onDate(d: Double): DataFrame =
      df.filter(aliveAt(d))

    private def aliveAt(d: Double): Column =
      col(Meta.START) <= d && (col(Meta.END) > d || col(Meta.END).isNull)

    /** Alive-object count per date in `dates` → (date, n), sorted by
      * date; dates where nothing is alive are absent, and a date listed
      * k times counts k× (the reference's grid: result.py:277-298).
      *
      * A sweep, not a join: each version is alive at the grid indexes
      * `[s, e)`, where `s` is the first grid date ≥ `_start` and `e` the
      * first ≥ `_end` (G for an open `_end`). One job sums the +1 at `s`
      * and −1 at `e` of every version into one `Array[Long](G + 1)`; the
      * driver prefix-sums it. Dates compare as Spark doubles (−0.0 =
      * 0.0, NaN above every number), and a null `_start` is never alive.
      */
    def history(dates: Seq[Double]): DataFrame = {
      val grid = new Grid(dates)
      val steps = sweep(
        df.select(col(Meta.START).cast(DoubleType), col(Meta.END).cast(DoubleType)), grid.points)
      grid.counts(df.sparkSession, steps, perListing = true)
    }

    /** Count of distinct oids ever seen up to each grid date
      * (reference: result.py:324-337 `persistent_oid_counts`), sorted by
      * date; dates with no oid yet are absent, and a date listed twice
      * counts once. `min(_start)` per non-null `_oid`, then the
      * [[history]] sweep over those first starts with no end.
      */
    def persistentOidCounts(dates: Seq[Double]): DataFrame = {
      val grid = new Grid(dates)
      val firstSeen = df.filter(col(Meta.OID).isNotNull)
        .groupBy(Meta.OID).agg(min(col(Meta.START).cast(DoubleType)).as("_first_start"))
        .select("_first_start")
      val steps = sweep(firstSeen, grid.points)
      grid.counts(df.sparkSession, steps, perListing = false)
    }

    /** Change feed since `t` — the CDC emission an SCD2 store implies
      * without any extra bookkeeping: every version OPENED at or
      * after `t` is an `open` event at its `_start`, every version
      * CLOSED at or after `t` a `close` event at its `_end` (a
      * rotation therefore emits the close of the old version and the
      * open of its successor — the standard before/after change
      * pair). Downstream consumers get incremental reprocessing
      * without scanning history: two scan-side filters, no join, no
      * window; at 100 TB both predicates push down to the parquet
      * scan. Rows: original columns + `(change_op, change_at)`,
      * ordered by the caller.
      */
    def changeFeed(t: Double): DataFrame = {
      val opened = df.filter(col(Meta.START) >= t)
        .withColumn("change_op", lit("open"))
        .withColumn("change_at", col(Meta.START))
      val closed = df.filter(col(Meta.END).isNotNull && col(Meta.END) >= t)
        .withColumn("change_op", lit("close"))
        .withColumn("change_at", col(Meta.END))
      opened.unionByName(closed)
    }

    /** All versions of oids that have an open version
      * (reference: result.py:312-322 `unfinished_objects`).
      */
    def unfinishedObjects(rightBound: Option[Double] = None): DataFrame = {
      val openCond = rightBound match {
        case Some(rb) => col(Meta.END).isNull || col(Meta.END) > rb
        case None => col(Meta.END).isNull
      }
      df.withColumn("_has_open", max(when(openCond, 1).otherwise(0)).over(oidWindow))
        .filter(col("_has_open") === 1)
        .drop("_has_open")
    }

    /** Latest version per oid, plus `age = min(cutoff, _end) - first
      * _start of the oid` (reference: result.py:339-392). One
      * `groupBy(_oid)`: `max_by` of the version by `_start` and
      * `min(_start)`. The tie rule is [[oneVersion]]'s.
      */
    def lastVersionsWithAge(cutoff: Double): DataFrame =
      pick(latest = true, min(Meta.START).as("_first_start"))
        .withColumn(
          "age",
          least(coalesce(col(Meta.END), lit(cutoff)), lit(cutoff)) - col("_first_start"))
        .drop("_first_start")

    /** i-th version per oid by `_start` order; negative i counts from
      * the end (reference: result.py:429-452 `one_version`).
      *
      * The first (`i = 0`) and last (`i = -1`) versions are one
      * `groupBy(_oid)` with `min_by`/`max_by` of the version by
      * `_start`, so no window sorts the versions. A null `_start` ranks
      * first, as in an ascending sort. Other `i` rank with
      * `row_number`, since the rank is the output.
      *
      * Ties: versions of one oid that share the picked `_start` are not
      * ordered, and which of them is returned may change with the
      * partitioning. Every SCD2 chain has one version per `_start`, so
      * a store's output never depends on it.
      */
    def oneVersion(i: Int): DataFrame =
      if (i == 0 || i == -1) pick(latest = i == -1)
      else {
        val w =
          if (i >= 0) oidWindow.orderBy(col(Meta.START).asc)
          else oidWindow.orderBy(col(Meta.START).desc)
        val target = if (i >= 0) i + 1 else -i
        df.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === target)
          .drop("_rn")
      }

    /** The first or latest version of each oid by `_start`, as `df`'s
      * columns followed by `extra` aggregates of the oid's versions.
      */
    private def pick(latest: Boolean, extra: Column*): DataFrame = {
      val rest = df.columns.filterNot(_ == Meta.OID)
      val version = struct(rest.map(col): _*)
      // a struct key ranks a null _start below every number instead of
      // dropping it, as the ascending sort did
      val key = struct(col(Meta.START))
      val picked = (if (latest) max_by(version, key) else min_by(version, key)).as("_v")
      val grouped = df.groupBy(col(Meta.OID)).agg(picked, extra: _*)
      grouped.select(
        df.columns.map(c => if (c == Meta.OID) col(c) else col("_v").getField(c).as(c)) ++
          grouped.columns.drop(2).map(col): _*)
    }

    def firstVersion: DataFrame = oneVersion(0)
    def lastVersion: DataFrame = oneVersion(-1)

    /** Keep only the last unbroken run of versions per oid — a "chain"
      * breaks where a version's `_end` is not the next version's
      * `_start` (reference: result.py:394-427 `last_chain`).
      *
      * Window formulation: order versions by `_start`, flag gaps with
      * `lag(_end) != _start`, cumulative-sum the flags into chain ids,
      * keep the max chain id per oid.
      */
    def lastChain(): DataFrame = {
      val w = oidWindow.orderBy(col(Meta.START).asc)
      val gap = when(
        lag(col(Meta.END), 1).over(w).isNull ||
          lag(col(Meta.END), 1).over(w) === col(Meta.START),
        0).otherwise(1)
      df.withColumn("_chain", sum(gap).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("_max_chain", max(col("_chain")).over(oidWindow))
        .filter(col("_chain") === col("_max_chain"))
        .drop("_chain", "_max_chain")
    }

    /** Oids whose first `_start` is after `d`
      * (reference: result.py:454-465 `started_after`).
      */
    def startedAfter(d: Double): DataFrame =
      df.withColumn("_first_start", min(Meta.START).over(oidWindow))
        .filter(col("_first_start") > d)
        .drop("_first_start")

    /** Keep listed oids (reference: result.py:302-310 `filter_oids`). */
    def filterOids(oids: Seq[Any]): DataFrame =
      df.filter(col(Meta.OID).isin(oids: _*))

    /** Epoch Double `_start`/`_end` → timestamp view
      * (reference: result.py:122-132 `to_datetime`).
      */
    def withTimestamps: DataFrame =
      df.withColumn("_start_ts", timestamp_seconds(col(Meta.START)))
        .withColumn("_end_ts", timestamp_seconds(col(Meta.END)))

    /** groupby `_oid` → apply a per-group transform → concat
      * (reference: result.py:475-483 `object_apply`). The function
      * receives each oid's versions as Rows; distributed via
      * `flatMapGroups` — one shuffle on `_oid`.
      */
    def objectApply(f: Seq[Row] => Seq[Row]): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      implicit val enc: Encoder[Row] = Encoders.row(df.schema)
      df.groupByKey(r => r.getAs[Any](Meta.OID).toString)
        .flatMapGroups((_, it) => f(it.toSeq).iterator)
    }
  }

  /** `dates` as the sorted, distinct grid the sweeps index into, with
    * the number of times each point is listed. Points follow Spark's
    * double order: −0.0 folds into 0.0 and NaN sorts above every number
    * (`java.lang.Double.compare` order once −0.0 is gone).
    */
  private final class Grid(dates: Seq[Double]) {
    private val sorted = dates.map(unsigned).toArray.sorted(Ordering.Double.TotalOrdering)
    // where each run of equal points starts (compare, unlike ==, equates NaNs)
    private val starts = sorted.indices
      .filter(j => j == 0 || java.lang.Double.compare(sorted(j), sorted(j - 1)) != 0)
    val points: Array[Double] = starts.map(sorted(_)).toArray
    private val listed = starts.zip(starts.drop(1) :+ sorted.length).map { case (a, b) => (b - a).toLong }

    /** One (date, n) row per point whose running sum of `steps` is
      * positive, n being that sum, times the point's listings if
      * `perListing`; a local DataFrame.
      */
    def counts(spark: SparkSession, steps: Array[Long], perListing: Boolean): DataFrame = {
      val rows = new java.util.ArrayList[Row]()
      var alive = 0L
      for (j <- points.indices) {
        alive += steps(j)
        if (alive > 0) rows.add(Row(points(j), if (perListing) alive * listed(j) else alive))
      }
      spark.createDataFrame(rows, HistorySchema)
    }
  }

  private val HistorySchema = StructType(Seq(
    StructField("date", DoubleType, nullable = false),
    StructField("n", LongType, nullable = false)))

  private def unsigned(v: Double): Double = if (v == 0.0) 0.0 else v

  /** First grid index whose point is ≥ `v` in Spark's double order. */
  private def indexOf(points: Array[Double], v: Double): Int = {
    val at = java.util.Arrays.binarySearch(points, unsigned(v))
    if (at >= 0) at else -at - 1
  }

  /** The +1/−1 steps of `bounds` — (start, end) doubles, or a start
    * alone for a version that never ends — summed over all partitions in
    * one job: +1 at the first grid index ≥ start, −1 at the first ≥ end.
    * A null start adds nothing; a null end never closes.
    */
  private def sweep(bounds: DataFrame, points: Array[Double]): Array[Long] = {
    val g = points.length
    if (g == 0) return Array(0L)
    val hasEnd = bounds.schema.length > 1
    bounds.queryExecution.toRdd
      .mapPartitions { rows =>
        val steps = new Array[Long](g + 1)
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val s = indexOf(points, r.getDouble(0))
            val e = if (!hasEnd || r.isNullAt(1)) g else indexOf(points, r.getDouble(1))
            if (s < e) { steps(s) += 1; steps(e) -= 1 }
          }
        }
        Iterator.single(steps)
      }
      .fold(new Array[Long](g + 1)) { (a, b) =>
        var j = 0
        while (j <= g) { a(j) += b(j); j += 1 }
        a
      }
  }

  /** A query result with its temporal bounds remembered — asking for a
    * date outside the originally-queried range raises (reference:
    * result.py:134-162 `set_date_bounds`/`check_in_bounds`).
    */
  final case class BoundedResult(
      df: DataFrame,
      lbound: Option[Double],
      rbound: Option[Double]) {

    def checkInBounds(d: Double): Unit = {
      val ok = lbound.forall(d >= _) && rbound.forall(d <= _)
      if (!ok) throw new IllegalArgumentException(
        s"date $d outside queried bounds [${lbound.getOrElse("-inf")}, ${rbound.getOrElse("inf")}]")
    }

    def onDate(d: Double): DataFrame = { checkInBounds(d); df.onDate(d) }

    def history(dates: Seq[Double]): DataFrame = {
      dates.foreach(checkInBounds)
      df.history(dates)
    }
  }

  /** Sample-date grid generation (reference: result.py:227-298
    * `get_dates_range`): daily/weekly/monthly/quarterly/yearly grids, or
    * `auto` targeting ~`ideal` points. Driver-side pure function — the
    * grid is small by construction.
    */
  def datesRange(
      start: Double,
      end: Double,
      scale: String = "auto",
      ideal: Int = 300): Seq[Double] = {
    require(end >= start, s"end $end < start $start")
    val day = 86400.0
    val stepOf = Map(
      "daily" -> day, "weekly" -> 7 * day, "monthly" -> 30 * day,
      "quarterly" -> 91 * day, "yearly" -> 365 * day)
    val step = scale match {
      case "auto" =>
        val span = end - start
        // pick the smallest scale that keeps the grid near `ideal` points
        Seq("daily", "weekly", "monthly", "quarterly", "yearly")
          .map(stepOf)
          .find(s => span / s <= ideal)
          .getOrElse(stepOf("yearly"))
      case "maximum" => throw new IllegalArgumentException(
        "scale=maximum needs the version data: use datesRangeMaximum(df, start, end)")
      case s => stepOf.getOrElse(s, throw new IllegalArgumentException(s"bad scale $s"))
    }
    Iterator.iterate(start)(_ + step).takeWhile(_ <= end).toSeq :+ end
  }

  /** `scale="maximum"` (reference: result.py:243-262): the exact grid —
    * every DISTINCT version boundary (`_start` and non-null `_end`)
    * inside `[start, end]`, sorted. A history over this grid loses
    * nothing: counts can only change at version boundaries, so
    * sampling exactly there is the finest meaningful resolution.
    *
    * The contract is a DRIVER-SIDE grid (the reference's `maximum`
    * scale), so the collect is data-dependent — GUARDED: the boundary
    * count is aggregated FIRST (one distributed count, no rows moved)
    * and the collect refuses above `maxPoints` (default 1,000,000 ≈
    * 8 MB of doubles) with an error naming the fixed-scale fallback.
    * At 100 TB with per-second versioning a caller hits the guard, not
    * a driver OOM — narrow the window or use
    * `datesRange(start, end, "daily"/"weekly"/...)` instead.
    */
  def datesRangeMaximum(
      df: DataFrame,
      start: Double,
      end: Double,
      maxPoints: Long = 1000000L): Seq[Double] = {
    require(end >= start, s"end $end < start $start")
    require(maxPoints > 0, s"maxPoints must be positive, got $maxPoints")
    val bounds = df.select(col(Meta.START).as("b"))
      .unionByName(df.filter(col(Meta.END).isNotNull).select(col(Meta.END).as("b")))
      .filter(col("b") >= start && col("b") <= end)
      .distinct()
    val n = bounds.count()
    require(n <= maxPoints,
      s"datesRangeMaximum: $n distinct version boundaries in [$start, $end] " +
        s"exceed maxPoints=$maxPoints — the maximum-scale grid is a driver-side " +
        "collect by contract. Narrow the window, raise maxPoints deliberately, " +
        "or fall back to a fixed scale: datesRange(start, end, \"daily\"|\"weekly\"|...)")
    bounds
      .orderBy("b")
      .collect()
      .map(_.getDouble(0))
      .toSeq
  }

  /** Least-squares linear extrapolation of a (x, y) series, clamped at 0
    * (reference: result.py:197-223 `_linreg_future`). The fit runs on
    * the driver over the ~300-point series — never on the cluster.
    */
  def linregFuture(xs: Seq[Double], ys: Seq[Double], futureXs: Seq[Double]): Seq[Double] = {
    require(xs.length == ys.length && xs.nonEmpty)
    val n = xs.length.toDouble
    val mx = xs.sum / n
    val my = ys.sum / n
    val denom = xs.map(x => (x - mx) * (x - mx)).sum
    val slope = if (denom == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / denom
    val intercept = my - slope * mx
    futureXs.map(x => math.max(0.0, slope * x + intercept))
  }

  /** [[linregFuture]] in a CROSS-ENGINE-EXACT formulation for oracle-
    * gated queries: shift x by a constant `x0` so every sum term is an
    * exact small integer in double (day-grid offsets × integer counts
    * stay far below 2^53), then the closed form
    * `slope = (n·Σuy − Σu·Σy) / (n·Σu² − (Σu)²)` — the numerator and
    * denominator are EXACT, so slope/intercept/forecast come out
    * bit-identical in any IEEE-754 engine regardless of summation
    * order (which is what the centered [[linregFuture]] form cannot
    * guarantee: `x − mean` is already rounded).
    */
  def linregFutureExact(
      xs: Seq[Double], ys: Seq[Double], futureXs: Seq[Double], x0: Double): Seq[Double] = {
    require(xs.length == ys.length && xs.nonEmpty)
    val us = xs.map(_ - x0)
    val n = xs.length.toDouble
    val su = us.sum
    val sy = ys.sum
    val suu = us.map(u => u * u).sum
    val suy = us.zip(ys).map { case (u, y) => u * y }.sum
    val denom = n * suu - su * su
    val slope = if (denom == 0) 0.0 else (n * suy - su * sy) / denom
    val intercept = (sy - slope * su) / n
    futureXs.map(x => math.max(0.0, intercept + slope * (x - x0)))
  }

  /** Trailing event-time rolling aggregates: every row gets each
    * aggregate evaluated over its key's rows with
    * `tsCol ∈ [row.ts − trailing, row.ts]` (a value-based RANGE frame,
    * so simultaneous events are all in each other's frames — no
    * row-number arbitrariness). The moving-metrics primitive (rate
    * counters, trailing sums, rolling max) over an event table.
    *
    * `tsCol` must be numeric (epoch micros as BIGINT keeps frames and
    * sums integer-exact; see the q_rolling_window gate). One shuffle
    * on `keyCols`, then a single sorted pass per partition — linear at
    * any scale, state bounded by the widest frame.
    */
  def rollingAgg(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      trailing: Long,
      aggs: Map[String, Column]): DataFrame = {
    require(trailing >= 0, "trailing must be >= 0")
    // one select against the ORIGINAL frame: sequential withColumn
    // would let an output named like tsCol/keyCols/an input column
    // silently replace what later aggregates and the window order by
    val clash = aggs.keySet.intersect(df.columns.toSet)
    require(clash.isEmpty, s"agg output names collide with input columns: $clash")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol))
      .rangeBetween(-trailing, Window.currentRow)
    df.select(
      col("*") +: aggs.toSeq.sortBy(_._1).map { case (name, a) => a.over(w).as(name) }: _*)
  }
}
