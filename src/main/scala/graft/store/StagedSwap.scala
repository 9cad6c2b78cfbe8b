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
  *
  * Every rename of the store layer goes through here: [[move]] and
  * [[moveFiles]] are the plain renames a manifest-committed write
  * ([[IncrementalStore.flushUpsert]]) uses to put its staged output in
  * place.
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
    if (hadLive) move(fs, live, retired)
    if (!fs.rename(staged, live)) {
      if (hadLive) fs.rename(retired, live) // roll back
      throw new IllegalStateException(s"staged swap: rename $staged -> $live failed")
    }
    fs.delete(retired, true)
  }

  /** Rename `from` to `to`, failing loud. `to` must not exist: a
    * rename onto an existing dir moves `from` inside it.
    */
  def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IllegalStateException(s"rename $from -> $to failed")

  /** Move every file directly under `from` into `to` (made if missing),
    * keeping its name. Each file is one rename, so a call cut short is
    * finished by calling it again. No-op if `from` does not exist.
    */
  def moveFiles(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.exists(from)) {
      fs.mkdirs(to)
      fs.listStatus(from).filter(_.isFile)
        .foreach(f => move(fs, f.getPath, new Path(to, f.getPath.getName)))
    }

  /** Repair a swap cut short by a crash: `retired` with no `live` is
    * the only copy and is moved back; `retired` next to `live` is the
    * replaced generation and is deleted. No-op on a clean layout.
    */
  def restore(fs: FileSystem, live: Path, retired: Path): Unit =
    if (fs.exists(retired)) {
      if (fs.exists(live)) fs.delete(retired, true)
      else move(fs, retired, live)
    }
}
