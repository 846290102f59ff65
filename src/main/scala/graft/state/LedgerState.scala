package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}

/** A writer refused because another process holds the ledger's lock.
  * An IllegalArgumentException, so callers that treat a refusal as a
  * bad call keep working; [[graft.queries.SimilarityOps.withLeaseRetry]]
  * catches it by type.
  */
class LedgerBusy(msg: String) extends IllegalArgumentException(msg)

/** The ONE crash protocol under every persisted ledger, all of them
  * [[SegmentLedger]]s (the d9/d16/d17 hash, d13 band, s8 IVF and s10
  * kNN-graph ledgers): a ledger path has exactly one writer at a time,
  * every writer heals a torn swap before it touches the path, and a
  * whole-ledger rewrite is staged beside the live dir and swapped in
  * rename-aside, so at every instant a full committed copy exists
  * under the live name or its backup name. Private to `graft.state`:
  * callers go through [[SegmentLedger]].
  *
  *  - [[withWriter]]: the per-path writer lock, a SIBLING of the ledger
  *    (`lockPath`) so the swap's renames never move it. Created with
  *    O_EXCL and recording `pid@host`. A held lock REFUSES with
  *    [[LedgerBusy]] (wedge, not corrupt) — appends, tombstones,
  *    compactions, retrains and takedowns of one path all exclude each
  *    other through this one lock. Before the body runs it heals a torn
  *    swap (`backupPath` present, live dir gone).
  *  - [[heal]]: restore a backup whose live dir is missing, else drop
  *    the leftover backup.
  *  - [[swapIn]]: move live aside, promote staged, restore on a failed
  *    promote, drop the backup.
  *
  * Stale locks: a lock whose holder is PROVABLY dead — it names THIS
  * host, procfs exists, and the pid is gone — is reclaimed (read →
  * verify → delete → retry once), so a hard crash mid-write does not
  * wedge the next writer (a streaming replay must self-heal). Anything
  * unprovable (another NFS client, no procfs, an empty lock) is not
  * dead: the refusal names the holder and an operator deletes the lock
  * after confirming no writer is live. The read-verify-delete runs
  * under an exclusive cross-process FileLock on the ONE `__reclaim_mutex`
  * of the lock's parent dir: without it a stalled reclaimer could
  * delete a lock a faster reclaimer had meanwhile re-created, letting
  * two writers in. The mutex file is never deleted (deleting a file
  * another process may hold locked is racy), so each state root keeps
  * one, not one per ledger.
  */
private[state] object LedgerState {

  def lockPath(path: String): Path = new Path(path + "__writer_lock")
  def backupPath(path: String): Path = new Path(path + "__compact_backup")
  def stagingPath(path: String): Path = new Path(path + "__compact_staging")

  def withWriter[A](fs: FileSystem, path: String, who: String)(
      body: => A): A = {
    val lock = lockPath(path)
    fs.mkdirs(lock.getParent)
    if (!(tryAcquire(fs, lock) ||
        (reclaimIfDead(lock) && tryAcquire(fs, lock))))
      throw new LedgerBusy(s"$who refused: ledger writer lock $lock is " +
        s"held by ${holderOf(fs, lock)} — one writer per ledger; if " +
        "that holder crashed on a non-local FS, delete the lock after " +
        "confirming no writer is live")
    try {
      heal(fs, new Path(path), backupPath(path))
      body
    } finally fs.delete(lock, false)
  }

  def heal(fs: FileSystem, live: Path, backup: Path): Unit =
    if (fs.exists(backup)) {
      if (!fs.exists(live))
        require(fs.rename(backup, live), s"could not restore $backup")
      else fs.delete(backup, true) // the swap completed; drop the relic
    }

  def swapIn(fs: FileSystem, live: Path, staged: Path,
      backup: Path): Unit = {
    require(fs.rename(live, backup), s"could not move $live aside")
    try require(fs.rename(staged, live), s"could not promote $staged")
    catch {
      case e: Throwable =>
        try fs.rename(backup, live)
        catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    }
    fs.delete(backup, true)
  }

  def localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.io.IOException => "unknown-host" }

  private def localPathOf(p: Path): Option[java.nio.file.Path] = {
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      Some(java.nio.file.Paths.get(uri.getPath))
    else None
  }

  /** Atomically create `lock` recording `pid@host`; false if held.
    * Local paths go through nio's CREATE_NEW — Hadoop's
    * RawLocalFileSystem create(overwrite = false) is check-then-create,
    * a TOCTOU hole.
    */
  private def tryAcquire(fs: FileSystem, lock: Path): Boolean = {
    val holder = s"${ProcessHandle.current().pid()}@$localHost"
      .getBytes("UTF-8")
    try {
      localPathOf(lock) match {
        case Some(lp) =>
          java.nio.file.Files.write(lp, holder,
            java.nio.file.StandardOpenOption.CREATE_NEW)
        case None =>
          val out = fs.create(lock, false)
          try out.write(holder) finally out.close()
      }
      true
    } catch { case _: java.io.IOException => false }
  }

  private def holderOf(fs: FileSystem, lock: Path): String =
    try {
      val in = fs.open(lock)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      if (txt.isEmpty) "an unnamed holder" else txt
    } catch { case _: java.io.IOException => "an unreadable holder" }

  /** True iff the recorded holder is provably dead (header). A legacy
    * pid-only lock is judged on the same procfs test.
    */
  private def holderProvablyDead(txt: String): Boolean = {
    def deadPid(p: String): Boolean =
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/proc")) &&
        p.nonEmpty && p.forall(_.isDigit) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(s"/proc/$p"))
    txt.split("@") match {
      case Array(p, h) => h == localHost && deadPid(p)
      case Array(p) => deadPid(p)
      case _ => false
    }
  }

  /** Delete `lock` iff its holder is provably dead (local FS only),
    * under its dir's reclaim mutex (header). True when the lock was
    * removed. A FileLock is held per JVM, so reclaims in this JVM also
    * serialize on this object (a second thread's `lock()` on the same
    * file would throw, not wait).
    */
  private def reclaimIfDead(lock: Path): Boolean =
    localPathOf(lock).exists { lp =>
      try synchronized {
        val ch = java.nio.channels.FileChannel.open(
          lp.resolveSibling("__reclaim_mutex"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val held = ch.lock() // exclusive, blocks across processes
          try holderProvablyDead(new String(
              java.nio.file.Files.readAllBytes(lp), "UTF-8").trim) &&
            java.nio.file.Files.deleteIfExists(lp)
          finally held.release()
        } finally ch.close()
      } catch { case _: java.io.IOException => false }
    }
}
