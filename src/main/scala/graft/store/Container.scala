package graft.store

import graft.functions.Pins
import graft.model.Meta
import graft.mql.{Compiler, DateRange, Fields}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A named, versioned-object table: the Spark counterpart of the
  * reference's `MetriqueContainer` + `SQLAlchemyProxy`
  * (reference: metrique/core_api.py:137-793, metrique/sqlalchemy.py).
  *
  * State is a DataFrame carrying the [[Meta]] columns. Reads compile
  * MQL + the temporal date dimension into Catalyst predicates; writes
  * are whole-plan recomputations (Spark has no in-place UPDATE): the
  * SCD2 `upsert` is one [[Scd2.merge]] of the current rows, and
  * persistence partitions by `is_current` so snapshot queries (`_end
  * IS NULL` — by far the common case) prune to one partition at 100 TB
  * scale (see [[IncrementalStore]] for the append-only-history flush).
  */
class Container(
    val spark: SparkSession,
    val name: String,
    initial: DataFrame,
    val path: Option[String] = None) {

  private var state: DataFrame = initial

  def df: DataFrame = state

  // ---------------------------------------------------------------- reads

  /** MQL find (reference: sqlalchemy.py:753-785).
    *
    * @param query MQL predicate, null/empty for all
    * @param fields csv projection; "~"/null ⇒ all columns
    * @param date temporal spec (see [[DateRange]]); null ⇒ current only
    * @param sort column to order by
    */
  def find(
      query: String = null,
      fields: String = null,
      date: String = "~",
      sort: String = null,
      descending: Boolean = false,
      limit: Long = -1): DataFrame = {
    val full = DateRange.fullQuery(Option(query), Option(date))
    var out = full match {
      case Some(mql) => state.filter(Compiler.compile(mql, state.schema))
      case None => state
    }
    // current-snapshot queries on a persisted container prune to the
    // is_current=true partition — the layout's whole point at 100 TB
    if (date == null && out.columns.contains(Container.PartCol))
      out = out.filter(col(Container.PartCol) === true)
    val proj = Fields.applyDefaultFields(Fields.parseFields(fields))
      .filter(state.columns.map(_.toLowerCase).contains)
    if (proj.nonEmpty) out = out.select(proj.map(col): _*)
    if (sort != null) {
      // csv multi-column sort, all asc or all desc (reference sort
      // tuples map onto this)
      val keys = sort.split(",").map(_.trim).filter(_.nonEmpty)
        .map(c => if (descending) col(c).desc else col(c).asc)
      out = out.orderBy(keys.toSeq: _*)
    }
    if (limit >= 0) {
      require(limit <= Int.MaxValue, s"limit $limit exceeds Int.MaxValue; use find() without limit and a downstream filter")
      out = out.limit(limit.toInt)
    }
    out
  }

  /** Count matching rows (reference: sqlalchemy.py:641-664). */
  def count(query: String = null, date: String = "~"): Long =
    find(query = query, date = date).count()

  /** Distinct values of one field, sorted; array fields are flattened
    * first (reference: sqlalchemy.py:706-721).
    *
    * The distinct values are bound for the driver, so they are sorted
    * within one partition: a global `orderBy` would add a job that
    * samples them for a range partitioning nobody needs.
    */
  def distinct(field: String, query: String = null, date: String = "~"): DataFrame = {
    val base = find(query = query, date = date)
    val isArray = base.schema(field).dataType.isInstanceOf[ArrayType]
    val vals =
      if (isArray) base.select(explode(col(field)).as(field))
      else base.select(col(field))
    vals.distinct().coalesce(1).sortWithinPartitions(col(field))
  }

  /** Max value of a field across ALL history (reference:
    * sqlalchemy.py:787-803; drives delta sync watermarks).
    */
  def getLastField(field: String): Option[Any] = {
    val row = state.agg(max(col(field))).head()
    if (row.isNullAt(0)) None else Some(row.get(0))
  }

  /** Recursive closure over a parent-link field: BFS from `oids`
    * following `field` (scalar or array of child oids), `level` hops max
    * (reference: sqlalchemy.py:666-692 `deptree`).
    *
    * Iterative semi-join loop — the idiomatic Spark shape for transitive
    * closure; each hop is one filtered scan, and the fringe stays
    * driver-side (bounded by the entity-id set, not the row count).
    * Small fringes ride an `isin` literal (pushed to the scan as an In
    * filter); past [[Container.DeptreeIsinMax]] ids the fringe becomes a
    * broadcast `left_semi` join instead, so a 10^5–10^6-id hop never
    * bloats the plan/codegen with a giant In-list.
    */
  def deptree(
      field: String,
      oids: Seq[Any],
      date: String = null,
      level: Int = Int.MaxValue,
      isinMax: Int = Container.DeptreeIsinMax): Seq[Any] = {
    val snap = find(date = date)
    val isArray = snap.schema(field).dataType.isInstanceOf[ArrayType]
    val oidType = snap.schema(Meta.OID).dataType
    def kidsOf(hop: DataFrame): DataFrame = hop
      .select(if (isArray) explode(col(field)).as("k") else col(field).as("k"))
      .filter(col("k").isNotNull)
      .distinct()
    def toOidDf(vals: Seq[Any]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        vals.map(Row(_)), math.max(1, vals.size / 500000)),
      StructType(Seq(StructField("k", oidType))))
    // Small fringes (the reference-scale common case) ride a driver
    // set + an isin literal pushed to the scan as an In filter. The
    // switch test is a limit-collect (isinMax+1 rows max), so the
    // driver NEVER materializes an oversized fringe: the first hop
    // whose child set exceeds isinMax switches PERMANENTLY to the
    // distributed loop below, where fringe/seen stay DataFrames and
    // only the final closure is collected. Each of its hops pins its
    // frames (Pins.pin: an eager checkpoint that tracks its blocks) and
    // releases the previous hop's — without the cut, the plan lineage
    // (and with it, planning time) grows per hop; without the release,
    // a long closure would pin every fringe generation in executor
    // memory for the life of the session.
    var seen = oids.toSet
    var fringe = oids.toSet
    var depth = 0
    var big: Option[(DataFrame, Set[Int], DataFrame, Set[Int])] = None // seen, fringe + pins
    while (big.isEmpty && fringe.nonEmpty && depth < level) {
      val kids = kidsOf(snap.filter(col(Meta.OID).isin(fringe.toSeq: _*)))
      val probeN = math.min(isinMax.toLong + 1L, Int.MaxValue.toLong).toInt
      val sample = kids.limit(probeN).collect().map(_.get(0))
      if (sample.length <= isinMax) {
        val ks = sample.toSet
        fringe = ks -- seen
        seen ++= ks
      } else {
        val (seenBase, basePins) = Pins.pin(toOidDf(seen.toSeq))
        val (fringeDf, fringePins) =
          Pins.pin(kids.join(seenBase, Seq("k"), "left_anti"))
        // seen must absorb the oversized fringe too (the driver loop's
        // `seen ++= kids`), or the next hop re-admits its parents
        val (seenDf, seenPins) = Pins.pin(seenBase.union(fringeDf))
        Pins.release(spark.sparkContext, basePins)
        big = Some((seenDf, seenPins, fringeDf, fringePins))
      }
      depth += 1
    }

    big match {
      case None => seen.toSeq.sortBy(_.toString)
      case Some(s0) =>
        var (seenDf, seenPins, fringeDf, fringePins) = s0
        var fringeCount = fringeDf.count()
        while (fringeCount > 0 && depth < level) {
          val hop = snap.join(
            broadcast(fringeDf.withColumnRenamed("k", "__fringe_oid")),
            col(Meta.OID) === col("__fringe_oid"), "left_semi")
          // newFringe is distinct and disjoint from seen (anti-join),
          // so the union below stays duplicate-free with no extra
          // distinct shuffle
          val (newFringe, nfPins) =
            Pins.pin(kidsOf(hop).join(seenDf, Seq("k"), "left_anti"))
          val (newSeen, nsPins) = Pins.pin(seenDf.union(newFringe))
          Pins.release(spark.sparkContext, seenPins ++ fringePins)
          seenDf = newSeen; seenPins = nsPins
          fringeDf = newFringe; fringePins = nfPins
          fringeCount = fringeDf.count()
          depth += 1
        }
        val out = seenDf.collect().map(_.get(0)).toSeq.sortBy(_.toString)
        Pins.release(spark.sparkContext, seenPins ++ fringePins)
        out
    }
  }

  /** Version-to-version field diffs per `_oid` ordered by `_start`
    * (reference: sqlalchemy.py:694-704 `dfind` + utils.py:1446-1535
    * `DictDiffer`). Output: one row per (oid, version, field) whose value
    * changed vs the previous version.
    *
    * Window `lag` per column — a single shuffle on `_oid`, no
    * driver-side iteration.
    */
  def dfind(query: String = null, fields: String = null): DataFrame = {
    val base = find(query = query, fields = fields, date = "~")
    val dataCols = base.columns
      .filterNot(Meta.All.contains).filterNot(_ == Container.PartCol)
    val w = Window.partitionBy(Meta.OID).orderBy(Meta.START)
    val diffs = dataCols.map { c =>
      struct(
        lit(c).as("field"),
        lag(col(c), 1).over(w).cast(StringType).as("old"),
        col(c).cast(StringType).as("new"))
    }
    base
      .withColumn("_prev_start", lag(col(Meta.START), 1).over(w))
      .withColumn("_diffs", array(diffs.toIndexedSeq: _*))
      .filter(col("_prev_start").isNotNull)
      .select(col(Meta.OID), col(Meta.START), explode(col("_diffs")).as("d"))
      .filter(!(col("d.old") <=> col("d.new")))
      .select(
        col(Meta.OID),
        col(Meta.START),
        col("d.field").as("field"),
        col("d.old").as("old_value"),
        col("d.new").as("new_value"))
  }

  /** List container tables under a warehouse path prefix. */
  def ls(): Seq[String] = spark.catalog.listTables().collect().map(_.name).toSeq

  /** `find(..., one)` — first matching row as a Map (reference:
    * sqlalchemy.py:767-771 `one=True` returns a dict).
    */
  def findOne(query: String = null, date: String = "~"): Option[Map[String, Any]] =
    find(query = query, date = date).limit(1).collect().headOption.map { r =>
      r.schema.fieldNames.zip(r.toSeq).toMap
    }

  /** First column of the first row (reference: `scalar=True`,
    * sqlalchemy.py:772-775).
    */
  def scalar(query: String = null, field: String, date: String = "~"): Option[Any] = {
    val rows = find(query = query, fields = field, date = date).limit(1).collect()
    rows.headOption.map(_.getAs[Any](field))
  }

  /** In-memory-style exact-equality filter over a where-map. The
    * reference's version only checks the LAST key due to a loop bug
    * (core_api.py:638-652) — this implements the intended AND
    * semantics (divergence noted in SURVEY §7.4).
    */
  def where(conditions: Map[String, Any], date: String = "~"): DataFrame = {
    val pred = conditions
      .map { case (k, v) => col(k) <=> lit(v) }
      .reduceOption(_ && _)
      .getOrElse(lit(true))
    find(date = date).filter(pred)
  }

  /** Raw SQL passthrough (reference: sqlalchemy.py:528-547 `execute`).
    * The container registers itself as a temp view first.
    */
  def execute(sql: String): DataFrame = {
    state.createOrReplaceTempView(name)
    spark.sql(sql)
  }

  /** Index request (reference: sqlalchemy.py:826-863). Spark has no
    * secondary indexes; the analog is layout — record requested
    * columns and use them as the sort/partition hint on [[save]].
    */
  private var indexCols: Seq[String] = Nil
  def index(columns: String*): Container = { indexCols = columns.toSeq; this }
  def indexList(): Seq[String] = indexCols

  // --------------------------------------------------------------- writes

  /** The is_current storage artifact is only valid for unmutated
    * loaded state — drop it before any write rebuilds the frame.
    */
  private def mutableState: DataFrame =
    if (state.columns.contains(Container.PartCol)) state.drop(Container.PartCol) else state

  /** Plain append (reference: sqlalchemy.py:865-875 `insert`). */
  def insert(objects: DataFrame): Container = {
    state = mutableState.unionByName(objects, allowMissingColumns = true)
    this
  }

  /** SCD2 snapshot upsert (reference: sqlalchemy.py:906-975): the
    * current rows merge with the batch through [[Scd2.merge]], whose
    * scaladoc holds the per-key rules. History rows are untouched, so a
    * physical layout partitioned by `is_current` rewrites only the
    * (small) current partition. `autosnap = false` is [[historyImport]].
    */
  def upsert(incoming: DataFrame, autosnap: Boolean = true): Container = {
    if (!autosnap) return historyImport(incoming)
    val base = mutableState
    val merged = Scd2.merge(base.filter(col(Meta.END).isNull), incoming)
    state = base.filter(col(Meta.END).isNotNull).unionByName(merged.drop(Scd2.Closed))
    this
  }

  /** History import: the batch carries ALL versions per oid — replace
    * every existing row of those oids (reference: sqlalchemy.py:955-968).
    */
  def historyImport(incoming: DataFrame): Container = {
    val oids = incoming.select(Meta.OID).distinct()
    state = mutableState
      .join(oids, Seq(Meta.OID), "left_anti")
      .unionByName(incoming, allowMissingColumns = true)
    this
  }

  /** Persist current state, partitioned so current-snapshot queries
    * prune: `is_current` is the leading partition column.
    */
  def save(): Container = {
    path.foreach { p =>
      val base = state.withColumn(Container.PartCol, col(Meta.END).isNull)
      // indexed columns become the clustering order inside partitions,
      // so parquet min/max stats prune on them (the Spark analog of the
      // reference's secondary indexes)
      val clustered =
        if (indexCols.nonEmpty) base.sortWithinPartitions(indexCols.map(col): _*)
        else base
      stagedOverwrite(clustered, p)
      // keep the partition column: find(date=null) filters on it so
      // Catalyst partition-prunes the scan
      state = spark.read.parquet(p)
    }
    this
  }

  /** Overwrite `dest` safely when `state`'s lineage may still READ from
    * `dest` (the load → mutate → save loop): a direct
    * `mode(overwrite).parquet(dest)` deletes the directory before the
    * reading plan executes, failing the job and losing the table. Write
    * to the `<name>_compacting` sibling first (fully materializing the
    * plan), then [[StagedSwap.swap]] it in via `<name>_retired`, which
    * [[Container.load]] restores after a crash.
    */
  private def stagedOverwrite(
      df: DataFrame,
      dest: String,
      partCols: Seq[String] = Seq(Container.PartCol)): Unit = {
    val live = new org.apache.hadoop.fs.Path(dest)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = StagedSwap.stagingOf(live)
    try df.write.mode("overwrite").partitionBy(partCols: _*).parquet(staging.toString)
    catch {
      case e: Throwable =>
        // a failed staging write must not leak the staging dir
        fs.delete(staging, true)
        throw e
    }
    StagedSwap.swap(fs, staging, live, StagedSwap.retiredOf(live))
  }

  /** Persist with Z-order clustering over `cols` (multi-column layout
    * index — see [[graft.operators.ZOrder]]): every parquet file gets
    * locally-narrow min/max on EVERY listed column, so scans filtering
    * on any of them skip files. The multi-column generalization of
    * [[index]]'s single-sort analog of the reference's secondary
    * indexes (sqlalchemy.py:826-863).
    */
  def saveZOrdered(cols: String*): Container = {
    path.foreach { p =>
      val base = mutableState.withColumn(Container.PartCol, col(Meta.END).isNull)
      stagedOverwrite(graft.operators.ZOrder.cluster(base, cols.toSeq), p)
      state = spark.read.parquet(p)
    }
    this
  }

  /** Persist partitioned by IVF cell: each row's vector is assigned its
    * nearest-centroid cell (one distributed pass over
    * [[graft.functions.Similarity.ivfAssign]]) and the table is written
    * `partitionBy(ivf_cell, is_current)` — so `annTopKIvf`'s probe
    * filter becomes on-disk PARTITION PRUNING: a query scans
    * nProbe/k of the files instead of the whole corpus. The storage-
    * layer counterpart of the probe filter (Similarity.scala's own
    * scaladoc advice), mirroring [[saveBucketed]]'s shuffle-free joins.
    */
  def saveIvfPartitioned(
      vecCol: String, centroids: Array[Array[Double]]): Container = {
    path.foreach { p =>
      val base = mutableState
        .withColumn("ivf_cell",
          graft.functions.Similarity.ivfAssign(col(vecCol), centroids))
        .withColumn(Container.PartCol, col(Meta.END).isNull)
      stagedOverwrite(base, p, Seq("ivf_cell", Container.PartCol))
      state = spark.read.parquet(p)
    }
    this
  }

  /** Persist bucketed by `_oid`, sorted by (`_oid`, `_start`) within
    * buckets. Every per-entity operator — the §2.8 temporal analytics
    * windows, `dfind`'s lag, activity import's cogroup, upsert's join —
    * keys on `_oid`; a bucketed table gives them their required
    * `HashPartitioning(_oid)` AND the in-bucket sort straight off the
    * scan, so the window/join runs with NO Exchange and NO Sort. At
    * 100 TB that's the difference between a full-table shuffle per
    * query and none.
    */
  def saveBucketed(tableName: String, numBuckets: Int = 64): Container = {
    // state may read spark.table(tableName) from a previous saveBucketed;
    // overwriting a table being read throws. Materialize through a
    // staging parquet dir first, then bucketed-write from the staged copy.
    val stagingDir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s".$tableName.staging-${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = stagingDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      state
        .withColumn(Container.PartCol, col(Meta.END).isNull)
        .write.mode("overwrite").parquet(stagingDir.toString)
      val staged = spark.read.parquet(stagingDir.toString)
      val w = staged
        .write
        .mode("overwrite")
        .bucketBy(numBuckets, Meta.OID)
        .sortBy(Meta.OID, Meta.START)
      path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
      state = spark.table(tableName)
    } finally {
      if (fs.exists(stagingDir)) fs.delete(stagingDir, true)
    }
    this
  }

  /** Interchange export of the container's full state (all versions,
    * meta columns included) via [[graft.etl.Loaders.exportTable]] —
    * parquet/orc keep types and pushdown on re-read; csv/json for
    * small external extracts. Unlike [[save]] this does NOT become the
    * container's backing path — it is a one-way copy for consumers
    * outside the engine.
    */
  def export(
      dest: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): Container = {
    // after save() the reloaded state carries the is_current partition
    // column — a storage artifact external consumers must not see, and
    // whose presence would make the export schema depend on whether
    // save() ran first
    graft.etl.Loaders.exportTable(
      state.drop(Container.PartCol), dest, format, options)
    this
  }

  /** Drop persisted data (reference: sqlalchemy.py:723-747). */
  def drop(): Unit = {
    path.foreach { p =>
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    state = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], state.schema)
  }
}

object Container {

  /** Partition column of persisted containers: current-version rows
    * live in their own partition so snapshot reads prune.
    */
  val PartCol = "is_current"

  /** Largest deptree fringe embedded as an `isin` literal; bigger
    * fringes switch to a broadcast left_semi join so the plan stays
    * flat (an In-list of 10^5 ids bloats codegen and the driver plan).
    */
  val DeptreeIsinMax = 10000

  /** Open a persisted container, first restoring a save that a crash
    * cut short between its two renames ([[StagedSwap.restore]]).
    */
  def load(spark: SparkSession, name: String, path: String): Container = {
    val live = new org.apache.hadoop.fs.Path(path)
    StagedSwap.restore(live.getFileSystem(spark.sparkContext.hadoopConfiguration),
      live, StagedSwap.retiredOf(live))
    new Container(spark, name, spark.read.parquet(path), Some(path))
  }

  /** Wrap a plain DataFrame (adds meta columns). */
  def fromRaw(
      spark: SparkSession,
      name: String,
      df: DataFrame,
      oid: Column,
      asOf: Double): Container =
    new Container(spark, name, Meta.wrap(df, oid, asOf))
}
