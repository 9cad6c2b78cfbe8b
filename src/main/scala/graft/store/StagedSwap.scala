package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe directory swap behind every staged rewrite: the new
  * generation is written to a staging dir, the live dir is renamed
  * aside to a `retired` dir, the staged dir is renamed in, and the
  * retired dir is deleted. The live dir is never deleted before its
  * replacement is in place.
  *
  * Crash contract: a crash before the first rename leaves the live dir
  * untouched (plus a stale staging dir, which the next write replaces);
  * between the two renames the data lives at `retired` only, and after
  * the second both dirs exist. [[restore]] repairs both states, so
  * every entry point that reads or rewrites a swapped dir calls it
  * first. Rename is atomic only on real filesystems; on object stores
  * pair the layout with a manifest commit.
  *
  * Writer exclusion is the caller's: a swap and a [[restore]] of the
  * same dir must not run concurrently.
  */
private[graft] object StagedSwap {

  /** The fixed staging sibling of `live`, `<name>_compacting`. */
  def stagingOf(live: Path): Path = new Path(live.getParent, live.getName + "_compacting")

  /** The fixed retired sibling of `live`, `<name>_retired`. */
  def retiredOf(live: Path): Path = new Path(live.getParent, live.getName + "_retired")

  /** Replace `live` by `staged` via `retired`; rolls back and fails
    * loud if the second rename fails. A missing `live` (first write)
    * is a plain rename.
    */
  def swap(fs: FileSystem, staged: Path, live: Path, retired: Path): Unit = {
    fs.delete(retired, true)
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, retired))
      throw new IllegalStateException(s"staged swap: rename $live -> $retired failed")
    if (!fs.rename(staged, live)) {
      if (hadLive) fs.rename(retired, live) // roll back
      throw new IllegalStateException(s"staged swap: rename $staged -> $live failed")
    }
    fs.delete(retired, true)
  }

  /** Repair a swap cut short by a crash: `retired` with no `live` is
    * the only copy and is moved back; `retired` next to `live` is the
    * replaced generation and is deleted. No-op on a clean layout.
    */
  def restore(fs: FileSystem, live: Path, retired: Path): Unit =
    if (fs.exists(retired)) {
      if (fs.exists(live)) fs.delete(retired, true)
      else if (!fs.rename(retired, live))
        throw new IllegalStateException(s"crash recovery: could not restore $retired to $live")
    }
}
