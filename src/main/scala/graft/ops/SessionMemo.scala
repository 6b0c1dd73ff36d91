package graft.ops

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Per-session memo for the shared hub frames that are expensive to
  * build (dd02's verified pairs, dd06's converged clusters, the walk
  * beam, the purge geometry, …). Each memoizing module holds ONE
  * memo and every site goes through one call, `memo(s, name, d) {
  * build }`; neither the key nor the liveness test is written at the
  * site.
  *
  *  - **Key** = (site name, dataset dir, every `spark.graft.*` entry
  *    of `s.conf.getAll`, sorted). A hub therefore follows every graft
  *    conf it reads, with no per-site list to keep in sync: a
  *    mid-session change to a conf that only shapes the physical plan
  *    costs one rebuild, never a stale answer. Spark's own confs stay
  *    out of the key — `Tables.events` sets
  *    `spark.sql.legacy.parquet.nanosAsLong` on the caller's session
  *    on every events read, so keying on Spark confs would give every
  *    later call a different key from the first.
  *  - **Liveness** is read off the memoized value: every `LogicalRDD`
  *    leaf under every DataFrame in it (walking tuples, case classes
  *    and `Seq`s) must still be stored — persisted, as a
  *    `localCheckpoint` is until `CacheScope.unpersistAll` drains it
  *    (its lineage is cut, so drained blocks are unrecoverable), or
  *    written by a reliable checkpoint (`spark.graft.checkpointDir`),
  *    whose files survive a drain. A dead value is rebuilt.
  *
  * Sessions are held WEAKLY and values SOFTLY: a memoized DataFrame
  * strongly references its own session, so a strong value would
  * defeat the weak key (the documented `WeakHashMap` caveat). A
  * discarded session (`spark.newSession()` is called freely) unpins
  * on GC and the ContextCleaner reclaims its storage. The build runs
  * OUTSIDE every lock: a race costs one redundant build (both results
  * are equivalent, last put wins), never a stall.
  */
final class SessionMemo[V <: AnyRef] {
  private val bySession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, SoftReference[V]]]()

  private def mapFor(s: SparkSession): ConcurrentHashMap[String, SoftReference[V]] =
    bySession.synchronized {
      var m = bySession.get(s)
      if (m == null) {
        m = new ConcurrentHashMap[String, SoftReference[V]]()
        bySession.put(s, m)
      }
      m
    }

  /** Serve site `name`'s value for dir `d` while it is live under the
    * session's current graft confs; build it otherwise. `name` must be
    * unique within the memo, and fixes the value's type. */
  def apply[T <: V](s: SparkSession, name: String, d: String)(build: => T): T = {
    val m = mapFor(s)
    val key = SessionMemo.key(s, name, d)
    val ref = m.get(key)
    val cur = if (ref == null) null.asInstanceOf[V] else ref.get()
    if (cur != null && SessionMemo.live(cur)) cur.asInstanceOf[T]
    else {
      val v = build
      m.put(key, new SoftReference[V](v))
      v
    }
  }

  /** Entry count for the session (spec and benchmark hook). */
  private[graft] def size(s: SparkSession): Int =
    bySession.synchronized {
      val m = bySession.get(s)
      if (m == null) 0 else m.size()
    }
}

object SessionMemo {
  private def key(s: SparkSession, name: String, d: String): String =
    s.conf.getAll.iterator.filter(_._1.startsWith("spark.graft.")).toSeq
      .sorted.map { case (k, v) => s"$k=$v" }
      .mkString(s"$name\u0000$d\u0000", "\u0000", "")

  private def live(v: Any): Boolean = v match {
    case df: Dataset[_] =>
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
        .forall(stored)
    case xs: Iterable[_] => xs.forall(live)
    case p: Product => p.productIterator.forall(live)
    case _ => true
  }

  private def stored(r: RDD[_]): Boolean =
    r.getStorageLevel != StorageLevel.NONE || r.getCheckpointFile.isDefined
}
