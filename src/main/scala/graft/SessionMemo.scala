package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one session-scoped memo: a value per (session, key), reused
  * while the files it was built from are unchanged.
  *
  *  - Entries are keyed by the `SparkSession` INSTANCE: checkpointed
  *    frames die with their session, and `spark.newSession()` starts
  *    with nothing memoized.
  *  - Each entry carries the [[SessionMemo.fingerprint]] of the source
  *    paths the call names (the tables its build reads). A call that
  *    lists a different fingerprint frees the stale value and
  *    rebuilds, so a table rewritten mid-session is never served from
  *    an old build. Resolution bound: a rewrite that lands inside one
  *    mtime granule with identical paths AND lengths is below what a
  *    listing can distinguish.
  *  - The listing, the build and the update run under a PER-KEY
  *    monitor, never a memo-wide one: same-key callers build once (a
  *    second build would leak the loser's checkpoint), distinct keys
  *    build concurrently, and builds may nest (a build that calls
  *    another memo, or `Tables.load`).
  *  - A replaced value is released through `free`. Entries of stopped
  *    sessions are dropped on access without it: their blocks died
  *    with the session, and keeping them would pin the session.
  */
final class SessionMemo[K, V](free: V => Unit = (_: V) => ()) {

  private final class Slot { var entry: Option[(Long, V)] = None }

  private val slots = TrieMap.empty[(SparkSession, K), Slot]

  /** The value for (`spark`, `key`): the memoized one if the listing
    * of `sources` is unchanged since it was built, else `build`'s.
    */
  def apply(spark: SparkSession, key: K, sources: Seq[String])(
      build: => V): V = {
    slots.keys.filter(_._1.sparkContext.isStopped).foreach(slots.remove)
    val slot = slots.getOrElse((spark, key), {
      val s = new Slot
      slots.putIfAbsent((spark, key), s).getOrElse(s)
    })
    slot.synchronized {
      val fp = SessionMemo.fingerprint(spark, sources)
      slot.entry match {
        case Some((`fp`, v)) => v
        case stale =>
          slot.entry = None
          stale.foreach { case (_, v) => free(v) }
          val v = build
          slot.entry = Some((fp, v))
          v
      }
    }
  }

  /** The number of (session, key) entries held. */
  private[graft] def size: Int = slots.size
}

object SessionMemo {

  /** Driver-side listing fingerprint of `paths`: every file under them
    * (recursively), sorted by path so FS listing order cannot flip it,
    * folded with its length and mtime. Footer-free — one listing per
    * path; a missing path contributes nothing.
    */
  private def fingerprint(spark: SparkSession, paths: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = ArrayBuffer[(String, Long, Long)]()
    paths.foreach { p0 =>
      val p = new Path(p0)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          files += ((st.getPath.toString, st.getLen,
            st.getModificationTime))
        }
      }
    }
    files.sortBy(_._1).foldLeft(1125899906842597L) {
      case (h, (path, len, mt)) =>
        ((h * 31 + path.hashCode) * 31 + len) * 31 + mt
    }
  }
}
