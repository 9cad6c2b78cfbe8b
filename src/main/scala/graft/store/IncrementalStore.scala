package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCD2 store with incremental flush — the layout that makes version
  * rotation affordable at 100 TB (SURVEY §7.3 "hard part #1": Spark
  * has no in-place UPDATE, so the table layout must turn rotation into
  * small writes).
  *
  * Layout under `root`:
  *   - `history/` — closed versions, APPEND-ONLY (rewritten only by
  *     [[compactHistory]]);
  *   - `current_v<N>/` — the current snapshot, REPLACED per flush
  *     (its size is the entity count, a sliver of total history);
  *   - `MANIFEST` — the live snapshot version N (atomic cutover, and
  *     the reason a flush never reads the directory it is writing).
  *
  * A flush is one [[Scd2.merge]] of the snapshot with the batch: its
  * rotated versions append to `history/`, the rest is the new snapshot
  * at `current_v<N+1>`, MANIFEST flips, the old snapshot dir is
  * deleted. Write volume is O(|current| + |batch|) regardless of how
  * much history has accumulated. Current-only reads (`date = null`)
  * never touch `history/` — the union branch is eliminated by a
  * literal-false filter, so the scan lists only the snapshot directory.
  */
class IncrementalStore private (
    val spark: SparkSession,
    val name: String,
    val root: String) {

  private val fs: FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def manifestPath = new Path(root, "MANIFEST")
  private def historyPath = new Path(root, "history")
  private def currentPath(v: Long) = new Path(root, s"current_v$v")

  private def readManifest(): Long = {
    if (!fs.exists(manifestPath)) 0L
    else {
      val in = fs.open(manifestPath)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeManifest(v: Long): Unit = {
    val out = fs.create(manifestPath, true)
    try out.write(v.toString.getBytes)
    finally out.close()
  }

  private def readDir(p: Path): Option[DataFrame] =
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
      Some(spark.read.parquet(p.toString))
    else None

  /** Current snapshot (empty DataFrame with no rows if never flushed). */
  def current: Option[DataFrame] = readDir(currentPath(readManifest()))

  def history: Option[DataFrame] = readDir(historyPath)

  /** Full table = history ∪ current. */
  def df: DataFrame = (history, current) match {
    case (Some(h), Some(c)) => h.unionByName(c, allowMissingColumns = true)
    case (Some(h), None) => h
    case (None, Some(c)) => c
    case (None, None) =>
      throw new IllegalStateException(s"store $root has no data")
  }

  /** Current-only view — scans ONLY the snapshot directory. */
  def currentDf: DataFrame =
    current.getOrElse(throw new IllegalStateException(s"store $root has no data"))

  /** Compact the append-only history: many small flushes accumulate
    * many small files; rewrite them into `targetFiles` larger ones.
    * Writes `history_compacting` first and swaps it in via
    * `history_retired` ([[StagedSwap.swap]]). A crash before the swap
    * leaves the old history in place; a crash between its two renames
    * leaves it at `history_retired` only, where a reader finds no
    * history until [[IncrementalStore.open]] restores it.
    */
  def compactHistory(targetFiles: Int = 8): IncrementalStore = {
    history.foreach { h =>
      val staging = StagedSwap.stagingOf(historyPath)
      fs.delete(staging, true)
      h.repartition(targetFiles).write.parquet(staging.toString)
      StagedSwap.swap(fs, staging, historyPath, StagedSwap.retiredOf(historyPath))
    }
    this
  }

  /** SCD2 flush: [[Scd2.merge]] of the current snapshot with the batch;
    * the rotated old versions append to `history/` and the rest becomes
    * the next snapshot. The first flush writes the batch's latest
    * version per `_oid` as the snapshot.
    */
  def flushUpsert(incoming: DataFrame): IncrementalStore = {
    val v = readManifest()
    val nextCurrent = current match {
      case None => Scd2.latest(incoming)
      case Some(curr) =>
        val merged = Scd2.merge(curr, incoming)
        merged.filter(col(Scd2.Closed)).drop(Scd2.Closed)
          .write.mode("append").parquet(historyPath.toString)
        merged.filter(!col(Scd2.Closed)).drop(Scd2.Closed)
    }
    // a FRESH dir (never the one we read), then atomic cutover + cleanup
    nextCurrent.write.mode("overwrite").parquet(currentPath(v + 1).toString)
    writeManifest(v + 1)
    fs.delete(currentPath(v), true)
    this
  }
}

object IncrementalStore {
  def open(spark: SparkSession, name: String, root: String): IncrementalStore = {
    val s = new IncrementalStore(spark, name, root)
    s.fs.mkdirs(new Path(root))
    StagedSwap.restore(s.fs, s.historyPath, StagedSwap.retiredOf(s.historyPath))
    s
  }
}
