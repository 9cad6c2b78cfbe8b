package graft.store

import graft.model.Meta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SCD2 historical upsert (reference: sqlalchemy.py:906-975): the
  * one merge kernel behind [[Container.upsert]] and
  * [[IncrementalStore.flushUpsert]].
  *
  * Incoming rows are *current* versions (`_end == null`); a batch may
  * carry several per `_oid`, of which only the [[latest]] counts. Per
  * `_oid`, against the current rows:
  *  - incoming only         → the new row (insert)
  *  - current only          → the old row (untouched)
  *  - same `_hash`          → the old row (idempotent re-flush;
  *    reference golden: test_MetriqueContainer.py:164-170)
  *  - different `_hash`     → the old row rotated (`_end = new._start`,
  *    `_id = "{oid}:{start}"`) and tagged [[Closed]], plus the new row
  *
  * Pure join algebra: ONE full-outer join on `_oid` emitting 0-2 rows
  * per key via array+explode — one shuffle, no per-row driver logic,
  * and no re-scan of the current rows per branch.
  */
private[store] object Scd2 {

  /** Boolean tag column of [[merge]]'s output: true on a rotated old
    * version, false on a current row.
    */
  val Closed = "_closed"

  /** The latest version per `_oid` in a batch: greatest `_start`, ties
    * broken by greatest `_hash`, so the pick never depends on shuffle
    * order.
    */
  def latest(incoming: DataFrame): DataFrame = {
    val w = Window.partitionBy(Meta.OID)
      .orderBy(col(Meta.START).desc, col(Meta.HASH).desc)
    incoming.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Merge `incoming` into `current` (current versions only). Returns
    * `current`'s columns in its order plus [[Closed]]; incoming columns
    * missing from `current` are dropped, and `current` columns missing
    * from the batch are null.
    */
  def merge(current: DataFrame, incoming: DataFrame): DataFrame = {
    val cols = current.columns.toSeq
    val inc = cols.foldLeft(latest(incoming)) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(current.schema(c).dataType))
    }
    def keyed(df: DataFrame, as: String) = df.select(
      col(Meta.OID).as("_k"),
      struct(cols.map(col) :+ lit(false).as(Closed): _*).as(as))
    val joined = keyed(current, "_c").join(keyed(inc, "_i"), Seq("_k"), "full_outer")

    val rotatedOld = struct(cols.map {
      case Meta.END => col("_i." + Meta.START).as(Meta.END)
      case Meta.ID =>
        Meta.genId(col("_c." + Meta.OID), col("_c." + Meta.START), col("_i." + Meta.START))
          .as(Meta.ID)
      case c => col("_c." + c).as(c)
    } :+ lit(true).as(Closed): _*)

    joined.select(explode(
      when(col("_i").isNull, array(col("_c")))
        .when(col("_c").isNull, array(col("_i")))
        .when(col("_c." + Meta.HASH) === col("_i." + Meta.HASH), array(col("_c")))
        .otherwise(array(rotatedOld, col("_i")))).as("_r"))
      .select((cols :+ Closed).map(c => col("_r." + c).as(c)): _*)
  }
}
