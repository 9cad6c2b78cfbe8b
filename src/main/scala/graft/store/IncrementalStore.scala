package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *   - `MANIFEST` — the live snapshot version N as `"<N>\n"`, the
  *     commit point of a flush (and the reason a flush never reads the
  *     dir it writes); `MANIFEST.next` exists only while it is
  *     replaced;
  *   - `flush_v<N+1>/` — exists only while a flush runs: its one
  *     [[Scd2.merge]] pass, written partitioned by [[Scd2.Closed]].
  *
  * A flush onto snapshot N writes the merge once into `flush_v<N+1>`,
  * renames its `_closed=false` dir to `current_v<N+1>`, commits
  * MANIFEST = N+1, moves the `_closed=true` files into `history/`
  * (Spark's part names carry a per-job UUID, so they never collide),
  * and deletes `flush_v<N+1>` and `current_v<N>`. Write volume is
  * O(|current| + |batch|) regardless of how much history has
  * accumulated. Current-only reads (`date = null`) never touch
  * `history/` — the union branch is eliminated by a literal-false
  * filter, so the scan lists only the snapshot directory.
  *
  * Crash contract (one writer per `root`): a flush cut at any point
  * leaves the store reading as exactly before or exactly after it.
  * MANIFEST is never rewritten in place: the new version is written
  * to `MANIFEST.next`, MANIFEST is deleted and `MANIFEST.next` renamed
  * in, and only content that ends in a newline is trusted. So the
  * commit point is the delete: a complete `MANIFEST.next` with no
  * MANIFEST beside it is the committed version.
  * [[IncrementalStore.open]] and every flush first [[recover]]. A
  * `MANIFEST.next` beside MANIFEST never committed and is dropped;
  * alone and complete it is moved in; alone and torn it can only be
  * the first flush's, so the version is 0 and it is dropped. Then a
  * `flush_v<M>` with M = MANIFEST is committed and rolled forward (its
  * remaining closed files move to `history/`); any other `flush_v<M>`
  * is discarded, and so is every `current_v<K>` with K != MANIFEST.
  * A closed row therefore reaches `history/` only after its
  * replacement snapshot is committed, and only once.
  */
class IncrementalStore private (
    val spark: SparkSession,
    val name: String,
    val root: String) {

  private val fs: FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def manifestPath = new Path(root, "MANIFEST")
  private def manifestNext = new Path(root, "MANIFEST.next")
  private def historyPath = new Path(root, "history")
  private def currentPath(v: Long) = new Path(root, s"current_v$v")
  private def flushPath(v: Long) = new Path(root, s"flush_v$v")
  private def stagedPart(v: Long, closed: Boolean) =
    new Path(flushPath(v), s"${Scd2.Closed}=$closed")

  /** The versions `N` of the dirs `<prefix><N>` under `root`. */
  private def versions(prefix: String): Seq[Long] = {
    val Versioned = s"$prefix(\\d+)".r
    fs.listStatus(new Path(root)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).collect { case Versioned(n) => n.toLong }
  }

  /** The version in manifest file `p`: None if `p` is missing or torn
    * (its content does not end in a newline).
    */
  private def readVersion(p: Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      if (text.endsWith("\n")) Some(text.trim.toLong) else None
    }

  /** The live snapshot version (class doc, crash contract); 0 before
    * the first commit.
    */
  private[store] def readManifest(): Long =
    if (fs.exists(manifestPath)) readVersion(manifestPath).getOrElse(
      throw new IllegalStateException(s"$manifestPath is torn: it does not end in a newline"))
    else readVersion(manifestNext).getOrElse(0L)

  /** Flush step 3, the commit: MANIFEST = `v`, written beside it and
    * renamed in. The delete of the old MANIFEST is the commit point.
    */
  private[store] def writeManifest(v: Long): Unit = {
    val out = fs.create(manifestNext, true)
    try out.write(s"$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(manifestPath, false)
    StagedSwap.move(fs, manifestNext, manifestPath)
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

  /** SCD2 flush: ONE [[Scd2.merge]] pass of the current snapshot with
    * the batch, written once partitioned by [[Scd2.Closed]] into
    * `flush_v<N+1>`; its open rows become `current_v<N+1>`, MANIFEST
    * commits, and its rotated old versions move into `history/` (see
    * the class doc for the steps and the crash contract). A merge with
    * no rows (empty snapshot, empty batch) commits nothing. The first
    * flush writes the batch's latest version per `_oid` as the
    * snapshot.
    */
  def flushUpsert(incoming: DataFrame): IncrementalStore = {
    recover()
    val next = readManifest() + 1
    current match {
      case None =>
        Scd2.latest(incoming).write.mode("overwrite").parquet(currentPath(next).toString)
        writeManifest(next)
      case Some(curr) =>
        stage(curr, incoming, next)
        if (publish(next)) writeManifest(next)
    }
    recover()
    this
  }

  /** Flush step 1: the merge, written once into `flush_v<v>`. */
  private[store] def stage(curr: DataFrame, incoming: DataFrame, v: Long): Unit =
    Scd2.merge(curr, incoming).write.mode("overwrite")
      .partitionBy(Scd2.Closed).parquet(flushPath(v).toString)

  /** Flush step 2: the staged open rows become `current_v<v>`. False if
    * the merge wrote no open row, which means it wrote no row at all.
    */
  private[store] def publish(v: Long): Boolean = {
    val open = stagedPart(v, closed = false)
    fs.exists(open) && { StagedSwap.move(fs, open, currentPath(v)); true }
  }

  /** Flush step 4: the staged closed rows move into `history/`. */
  private[store] def archive(v: Long): Unit =
    StagedSwap.moveFiles(fs, stagedPart(v, closed = true), historyPath)

  /** Finish a committed flush, discard an uncommitted one (class doc,
    * crash contract). The last step of every flush.
    */
  private[store] def recover(): Unit = {
    if (fs.exists(manifestNext)) {
      if (fs.exists(manifestPath) || readVersion(manifestNext).isEmpty) fs.delete(manifestNext, false)
      else StagedSwap.move(fs, manifestNext, manifestPath)
    }
    val v = readManifest()
    versions("flush_v").foreach { m =>
      if (m == v) archive(m)
      fs.delete(flushPath(m), true)
    }
    versions("current_v").filter(_ != v).foreach(k => fs.delete(currentPath(k), true))
  }
}

object IncrementalStore {
  def open(spark: SparkSession, name: String, root: String): IncrementalStore = {
    val s = new IncrementalStore(spark, name, root)
    s.fs.mkdirs(new Path(root))
    StagedSwap.restore(s.fs, s.historyPath, StagedSwap.retiredOf(s.historyPath))
    s.recover()
    s
  }
}
