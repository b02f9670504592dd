package graft.functions

import org.apache.spark.sql.SparkSession

/** The one registry of session-scoped artifacts: fitted indexes (IVF
  * centroids, PQ codebooks, the OPQ basis, BQ/SQ stats), bucket stats, the
  * `events` ts-unit probe, the pre-organized layout writes and the pinned
  * dedup shingle table. Each entry is built once per (key, fingerprint) and
  * reused until the fingerprint of the input it was built from changes.
  *
  *   - A build runs under a per-key lock object, never inside a
  *     `ConcurrentHashMap` callback: builds are Spark jobs, and a remapping
  *     function must stay short and non-blocking (a long build inside the
  *     bin lock stalls unrelated keys hashing to the same bin).
  *   - Concurrent callers of one key wait for its single build; different
  *     keys never contend, so a build may itself call `Memo` on another key
  *     (the OPQ codebook fit reads the OPQ basis).
  *   - A fingerprint mismatch rebuilds and replaces the entry; the superseded
  *     value is closed, after the replacement is stored, when it is an
  *     `AutoCloseable` (the shingle table unpins and unpersists itself).
  */
object Memo {
  private final case class Entry(fingerprint: String, value: Any)

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def apply[T](key: String, fingerprint: String)(build: => T): T = {
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val prev = entries.get(key)
      if (prev != null && prev.fingerprint == fingerprint) prev.value.asInstanceOf[T]
      else {
        val value = build
        entries.put(key, Entry(fingerprint, value))
        if (prev != null) prev.value match {
          case c: AutoCloseable => c.close()
          case _ => ()
        }
        value
      }
    }
  }

  /** Listing-level digest of the table at `path` (a file or a directory of
    * parts): MD5 over the sorted (path, length, mtime) of every part — no
    * data read. Parquet parts are immutable once written, so a rewrite shows
    * up as new, renamed or re-lengthed parts; a 32-bit hash fold could
    * collide and serve a stale artifact, MD5 does not in practice. A missing
    * table has its own fingerprint, so creating it later invalidates.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      try {
        val st = fs.getFileStatus(p)
        if (st.isDirectory) fs.listStatus(p).toSeq.sortBy(_.getPath.toString) else Seq(st)
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$p;n=${parts.size};".getBytes("UTF-8"))
    parts.foreach { s =>
      md.update(s"${s.getPath};${s.getLen};${s.getModificationTime};".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
