package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path

/** Single-writer guard for a store root: the append/maintain paths are
  * single-writer BY DESIGN — the dictionary anti-join dedup, the
  * downsample partial-merge and the commit log all assume no
  * concurrent mutator outside this JVM's [[Store]] append lock. The
  * reference has the same contract one layer down (one writer service owns
  * the inserts; ClickHouse serializes merges per part). This makes the
  * contract EXPLICIT instead of implicit: a `_writer.lock` file created
  * exclusive-mode at the store root, carrying `pid@host` plus the create/
  * heartbeat mtime. A second live process gets a clean refusal instead of
  * racing the dictionary; a crashed holder is detected — same-host dead
  * pid, or a heartbeat older than `staleMs` — and the lock is broken.
  *
  * Holding is ACTIVE: a daemon thread heartbeats the lock at `staleMs/4`
  * so an idle-but-live writer never looks crashed, and every heartbeat is
  * FENCED — it re-reads the lock file and refuses to overwrite one that
  * no longer names this process (a holder paused past `staleMs` may have
  * been legitimately broken; reclaiming would split-brain the root).
  * A fenced-out instance fails every subsequent [[ensureHeld]].
  *
  * Filesystem-portable: create-exclusive and delete go through the Hadoop
  * [[org.apache.hadoop.fs.FileSystem]] for the root's URI, so the guard
  * holds on HDFS exactly as on local disk. (On S3A create-exclusive is
  * not atomic — there the lock degrades to an advisory check, which still
  * catches every non-racing double-deployment; the fenced heartbeat then
  * bounds a true race to one `staleMs/4` window instead of forever.)
  */
final class WriterLock(root: String, owner: String = WriterLock.self,
    staleMs: Long = 10 * 60 * 1000) {

  private val path = new Path(root, "_writer.lock")
  @volatile private var held = false
  @volatile private var fencedBy: Option[String] = None
  @volatile private var lastBeatMs = 0L
  private var beater: Option[java.util.concurrent.ScheduledExecutorService] =
    None

  private def fs = Store.fsFor(root)._1

  private def writeLock(overwrite: Boolean): Boolean =
    try {
      val out = fs.create(path, overwrite)
      out.write(owner.getBytes(UTF_8))
      out.close()
      true
    } catch { case _: java.io.IOException => false }

  /** Right(Some(owner, mtime)) = lock present; Right(None) = lock file
    * genuinely ABSENT; Left = transient read error. The distinction
    * matters in [[beat]]: treating a read hiccup as "missing" would try an
    * exclusive re-create, fail (the file still exists, this process still
    * owns it), and permanently fence out the only healthy writer over one
    * transient FS error on a heartbeat.
    */
  private def readHolder(): Either[java.io.IOException, Option[(String, Long)]] =
    try {
      val st = fs.getFileStatus(path)
      val in = fs.open(path)
      val buf = new Array[Byte](256)
      val n = in.read(buf)
      in.close()
      Right(Some((new String(buf, 0, math.max(0, n), UTF_8).trim,
        st.getModificationTime)))
    } catch {
      case _: java.io.FileNotFoundException => Right(None)
      case e: java.io.IOException => Left(e)
    }

  private def holder(): Option[(String, Long)] =
    readHolder().toOption.flatten

  /** Dead = the recorded pid no longer runs on THIS host (a crashed JVM
    * on the same box — the bench/driver fork-per-family shape), or the
    * heartbeat mtime is older than `staleMs` (a crashed holder anywhere).
    */
  private def staleOrDead(who: String, mtimeMs: Long): Boolean = {
    val deadHere = who.split("@") match {
      case Array(pid, host) if host == WriterLock.host =>
        pid.toLongOption.exists(p =>
          !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
      case _ => false
    }
    deadHere || System.currentTimeMillis() - mtimeMs > staleMs
  }

  /** FENCED heartbeat — assumes the instance lock. Re-reads the lock file
    * FIRST and refuses to touch it when it no longer names this process:
    * a holder paused past `staleMs` (GC pause, VM suspend, laptop sleep)
    * may have been legitimately broken and the root re-acquired by
    * another writer; blindly re-overwriting would put TWO live writers on
    * the same root — the classic lock-file split-brain. Fenced-out is
    * terminal for this instance: `held` drops, the background beater
    * stops, and every subsequent [[ensureHeld]] throws — the process must
    * be restarted to write again (by then the other writer owns the root).
    */
  private def beat(now: Long): Unit =
    readHolder() match {
      case Left(_) => () // transient read error: skip this beat, retry next
      case Right(Some((who, _))) if who != owner => fenceOut(who)
      case Right(Some(_)) =>
        writeLock(overwrite = true): Unit
        lastBeatMs = now
      case Right(None) =>
        // broken but not yet retaken: only an exclusive re-create may
        // reclaim it — losing that race means someone else took it
        if (writeLock(overwrite = false)) lastBeatMs = now
        else fenceOut("another writer (lock was broken and re-acquired)")
    }

  private def fenceOut(who: String): Unit = {
    held = false
    fencedBy = Some(who)
    stopBeater()
    throw new IllegalStateException(
      s"store root $root: writer lock was taken over by $who — this " +
        "process is fenced out and must not write again (restart it)")
  }

  // a live holder must never LOOK crashed: heartbeat from a daemon thread
  // at staleMs/4 even when the writer is idle between appends, so another
  // process cannot legitimately break the lock during an ingest pause
  private def startBeater(): Unit = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-writer-lock-$root")
        t.setDaemon(true); t
      })
    val period = math.max(1, staleMs / 4)
    ex.scheduleWithFixedDelay(() => WriterLock.this.synchronized {
      if (held)
        try beat(System.currentTimeMillis())
        catch { case _: Throwable => () } // fencedBy records a takeover
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    beater = Some(ex)
  }

  private def stopBeater(): Unit = {
    beater.foreach(_.shutdownNow())
    beater = None
  }

  /** Acquire the lock, or confirm + heartbeat it when already held by
    * this instance. Throws [[IllegalStateException]] when another LIVE
    * writer owns the root — the caller must not append — or when this
    * instance was fenced out by a takeover.
    */
  def ensureHeld(): Unit = synchronized {
    val now = System.currentTimeMillis()
    fencedBy.foreach(who => throw new IllegalStateException(
      s"store root $root: this process was fenced out by $who; " +
        "refusing further writes"))
    if (held) {
      // refresh well inside the stale window; after a long pause (the
      // background beater couldn't run either) this re-reads the owner
      // and fences instead of silently reclaiming
      if (now - lastBeatMs > staleMs / 4) beat(now)
      return
    }
    fs.mkdirs(new Path(root)): Unit
    if (!writeLock(overwrite = false)) {
      holder() match {
        case Some((who, _)) if who == owner => () // ours (re-entry)
        case Some((who, mtime)) if staleOrDead(who, mtime) =>
          fs.delete(path, false): Unit
          if (!writeLock(overwrite = false))
            throw new IllegalStateException(
              s"store root $root: lost the race re-acquiring a stale lock")
        case Some((who, _)) =>
          throw new IllegalStateException(
            s"store root $root is owned by live writer $who; " +
              "refusing concurrent writes (one process owns a store root)")
        case None => // holder vanished between probe and read: retry once
          if (!writeLock(overwrite = false))
            throw new IllegalStateException(
              s"store root $root: lock contended; refusing concurrent writes")
      }
    }
    held = true
    lastBeatMs = now
    startBeater()
    WriterLock.releaseOnExit(this)
  }

  def isHeld: Boolean = held

  /** Spec hook: run one fenced heartbeat now, regardless of the window. */
  private[store] def beatNow(): Unit = synchronized {
    if (held) beat(System.currentTimeMillis())
  }

  /** The owner that fenced this instance out, if a takeover happened. */
  def fencedOutBy: Option[String] = fencedBy

  def release(): Unit = synchronized {
    stopBeater()
    if (held) {
      try fs.delete(path, false): Unit
      catch { case _: java.io.IOException => () }
      held = false
    }
  }
}

object WriterLock {
  private[store] val host: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "localhost" }

  private def self: String = s"${ProcessHandle.current().pid()}@$host"

  // best-effort tidy exit (a kill -9 skips this; staleOrDead covers it)
  private val exiting = TrieMap[WriterLock, Unit]()
  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => exiting.keys.foreach(l =>
      try l.release() catch { case _: Throwable => () }), "graft-lock-release"))

  private def releaseOnExit(l: WriterLock): Unit = {
    hook
    exiting.put(l, ()): Unit
  }
}
