package graft.kv

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

/** Enforced single-writer-per-table: the lock that upgrades the
  * documented concurrency contract (see `KvBatchWrite` scaladoc) into a
  * runtime guarantee. Mirrors the reference's implicit model — one
  * region server owns a region's mutations (`HBaseTap.java:69-101`
  * obtains the HBaseAdmin that owns DDL) — and the log-lock pattern
  * Delta/Iceberg use for their commit protocols.
  *
  * Mechanics: atomic `create(overwrite = false)` of a SIBLING lock file
  * `<path>.kvlock` (sibling, not child, so `drop`/Replace deleting the
  * table dir cannot release a live lock out from under its holder).
  * Create-if-absent is the atomic primitive every Hadoop FS provides;
  * on object stores without atomic create the same API maps to a
  * conditional PUT. Waiting writers poll up to `waitMs`; a lock whose
  * mtime is older than `staleMs` is considered abandoned by a crashed
  * writer and stolen (delete + re-race). Readers never take the lock —
  * reads are safe under concurrent writes (immutable files published by
  * atomic rename).
  *
  * Re-entrant per thread: a `withLock` on a table whose lock the
  * calling thread already holds runs its body inline. `KvTable`'s
  * mutations hold the lock from version allocation through the
  * connector's commit, and that commit takes the same lock.
  *
  * Cost: two filesystem metadata ops per mutation — invisible next to
  * the write job itself, including per-micro-batch streaming upserts.
  */
object TableLock {

  private[kv] def lockPath(path: String) = new HPath(path + ".kvlock")

  // Per-path monitor for same-JVM writers: HDFS/object-store create-if-
  // absent is atomic across processes, but RawLocalFileSystem's is a
  // check-then-create (two local threads can both pass the exists
  // check). Serializing the CREATE ATTEMPT per path inside the JVM
  // closes that race for local[k] multi-threaded writers; cross-process
  // exclusion still rests on the filesystem primitive.
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // qualified lock-file paths the current thread holds
  private val held = new ThreadLocal[java.util.Set[String]] {
    override def initialValue() = new java.util.HashSet[String]()
  }

  def withLock[T](path: String, conf: Configuration,
                  waitMs: Long = 60000, staleMs: Long = 600000)(body: => T): T = {
    val lock = lockPath(path)
    val fs = lock.getFileSystem(conf)
    val key = fs.makeQualified(lock).toString
    if (held.get.contains(key)) return body
    if (lock.getParent != null) fs.mkdirs(lock.getParent)
    val monitor = monitors.computeIfAbsent(key, _ => new Object)
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        monitor.synchronized {
          fs.create(lock, false).close() // create-if-absent
        }
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val stale =
            try System.currentTimeMillis() -
              fs.getFileStatus(lock).getModificationTime > staleMs
            catch { case _: java.io.FileNotFoundException => false }
          if (stale) fs.delete(lock, false) // crashed holder; re-race create
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"kvtable: timed out acquiring write lock $lock " +
                s"(held by a concurrent writer; staleMs=$staleMs)")
          else Thread.sleep(50)
      }
    }
    held.get.add(key)
    try body finally { held.get.remove(key); fs.delete(lock, false) }
  }
}
