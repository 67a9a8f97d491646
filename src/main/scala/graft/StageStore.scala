package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one place that decides when a result graft built earlier may be
  * reused: fitted models and advice ([[value]]), materialized stage
  * tables ([[stage]]) and per-session scratch dirs ([[scratch]]).
  *
  * Key policy: a result is reused iff it was built in the same session
  * (the SparkContext's applicationId) from the same input SNAPSHOT. The
  * snapshot is [[fingerprint]]: one md5 over the sorted
  * `path|length|mtime` listing of the input tables — a metadata-only
  * probe (a listing, no data read), and the information a table format's
  * snapshot id summarizes. Any in-place rewrite of an input (a CDC merge
  * into the corpus lake, a regenerated dir) changes the listing, so a
  * stale model or stage is never served after its input changed; the
  * session part keeps two JVMs that share one tmpdir out of each other's
  * output. On Iceberg/Delta the fingerprint would be the snapshot id.
  *
  * Every key has one holder with its own lock. A build runs exactly once
  * per key even when concurrent queries share the session, and it runs
  * OUTSIDE the map's bin lock: `ConcurrentHashMap.computeIfAbsent` only
  * creates the holder, because on Java 17 a mapping function that touches
  * the same map can fail with "Recursive update", and a Spark job run
  * inside it would block unrelated keys. A nested [[value]] call on
  * another key is therefore fine. A build that throws stores nothing and
  * is retried by the next call. Stages are written to `<final>.tmp-<uuid>`
  * and published with one `FileSystem.rename`, so a reader sees either no
  * stage or a complete one. Family names are constants at each call site.
  */
object StageStore {

  private final class Holder {
    private[this] var built = false
    private[this] var v: Any = _
    def get(compute: => Any): Any = synchronized {
      if (!built) { v = compute; built = true }
      v
    }
  }

  private val holders = new ConcurrentHashMap[String, Holder]

  private def holder(key: String): Holder =
    holders.computeIfAbsent(key, _ => new Holder)

  private def tmpDir: String = System.getProperty("java.io.tmpdir")

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Snapshot fingerprint of `tables` (parquet table names) under `dir`. */
  def fingerprint(s: SparkSession, dir: String, tables: String*): String = {
    require(tables.nonEmpty, "a fingerprint needs at least one table")
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    tables.foreach { t =>
      val path = new Path(s"$dir/$t.parquet")
      val it = fsOf(s, path).listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        entries +=
          s"${f.getPath.toUri.getPath}|${f.getLen}|${f.getModificationTime}"
      }
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir +: entries.sorted).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** `compute` once per (session, family, snapshot of `tables`). */
  def value[T](s: SparkSession, family: String, dir: String,
      tables: String*)(compute: => T): T =
    holder(s"${s.sparkContext.applicationId}|$family|" +
      fingerprint(s, dir, tables: _*)).get(compute).asInstanceOf[T]

  /** Where the stage of (session, family, snapshot of `tables`) lives. */
  def stagePath(s: SparkSession, family: String, dir: String,
      tables: String*): String =
    s"$tmpDir/graft_${family}_stage_${s.sparkContext.applicationId}_" +
      fingerprint(s, dir, tables: _*)

  /** The published stage dir of this key; `write(tmp)` builds it once. */
  def stage(s: SparkSession, family: String, dir: String, tables: String*)(
      write: String => Unit): String =
    publish(s, stagePath(s, family, dir, tables: _*), replace = false)(write)

  /** Rebuild the stage of this key and swap it in. Until the swap the
    * earlier stage stays readable; a `write` that throws leaves it as is. */
  def restage(s: SparkSession, family: String, dir: String, tables: String*)(
      write: String => Unit): String =
    publish(s, stagePath(s, family, dir, tables: _*), replace = true)(write)

  private def publish(s: SparkSession, out: String, replace: Boolean)(
      write: String => Unit): String = {
    val dst = new Path(out)
    val fs = fsOf(s, dst)
    holder(out).synchronized {
      if (replace || !fs.exists(dst)) {
        val tmp = new Path(s"$out.tmp-${UUID.randomUUID}")
        try {
          write(tmp.toString)
          val old = new Path(s"$out.old-${UUID.randomUUID}")
          val hadOld = fs.exists(dst)
          if (hadOld) require(fs.rename(dst, old), s"cannot retire $out")
          if (!fs.rename(tmp, dst)) {
            if (hadOld) fs.rename(old, dst)
            throw new IllegalStateException(s"stage publish failed for $out")
          }
          if (hadOld) fs.delete(old, true)
        } finally fs.delete(tmp, true) // no-op once published
      }
    }
    out
  }

  /** Per-session scratch dir for write-then-read round trips. */
  def scratch(s: SparkSession, name: String): String =
    s"$tmpDir/graft_${name}_${s.sparkContext.applicationId}"

  /** Recursively delete a scratch or stage dir through Hadoop's FS. */
  def drop(s: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fsOf(s, p).delete(p, true)
  }
}
