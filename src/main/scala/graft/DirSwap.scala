package graft

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe directory swap behind every rewritten store (state
  * stores, batch ledgers, the DP ledger, warehouse compaction): stage the
  * new generation beside the live one, move the live one aside, promote
  * the staged one, drop the aside copy. A crash between move-aside and
  * promote leaves the store only in the aside copy, so readers call
  * [[restore]] first. Safe where directory rename is atomic (HDFS, local
  * FS); on object stores without it (plain S3A), front the store with a
  * rename-capable layer. */
private[graft] object DirSwap {

  /** If `target` is missing and `aside` exists, rename `aside` back (or
    * throw). Returns whether `target` exists afterwards. */
  def restore(fs: FileSystem, target: Path, aside: Path): Boolean =
    fs.exists(target) || fs.exists(aside) && {
      if (!fs.rename(aside, target)) throw new IOException(
        s"swap: could not restore $aside to $target after crash")
      true
    }

  /** Replace `target` with `staged`, dropping a stale `aside` first. A
    * failed promote puts `target` back from `aside` and throws. */
  def swapIn(fs: FileSystem, staged: Path, target: Path,
             aside: Path): Unit = {
    if (fs.exists(aside)) fs.delete(aside, true)
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, aside))
      throw new IOException(s"swap: could not move $target aside")
    if (!fs.rename(staged, target)) {
      if (hadTarget) fs.rename(aside, target)
      throw new IOException(s"swap: could not promote $staged to $target")
    }
    if (hadTarget) fs.delete(aside, true)
    ()
  }
}
