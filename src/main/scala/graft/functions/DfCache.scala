package graft.functions

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session memo: graft's one reuse layer for intermediates built
  * once per (session, key) and read many times — the local stand-in
  * for the reference's persistent artifacts (an IVF index is built
  * once and probed many times).
  *
  * Two entry points share one map, one build discipline and one
  * eviction path:
  *  - [[getOrElseUpdate]] memoizes persisted DataFrames ("frames",
  *    e.g. the dedup shingle table or the chunk weights). LIVE
  *    sessions are LRU-bounded at [[MaxPerSession]] frames, so a
  *    service iterating many corpus dirs can't accumulate persisted
  *    frames without limit (each corpus dir contributes a handful of
  *    keys; the bound is ~6 dirs' worth). Frame keys carry no stamp:
  *    after regenerating a table in place, call [[clear]].
  *  - [[memo]] memoizes plain values (parquet readers, fitted models,
  *    index handles, counts) under a table [[Stamp]]: an entry whose
  *    stamp differs from the caller's is dropped and rebuilt in place,
  *    and inserting a stamp drops every entry of the session stamped
  *    with an older generation of the same table. A `None` stamp (the
  *    stat failed) builds without caching. Values are not LRU-bounded:
  *    their keys are bounded by (dir, geometry).
  *
  * Entries of stopped sessions are evicted on every access and when
  * their context stops (the last session of a JVM has no next
  * access). `clear()` drops everything (tests, services).
  *
  * Locking: the global lock covers only map bookkeeping (eviction
  * sweep, LRU stamp, memo insertion) — never a build. Builds run
  * under the PER-KEY memo's own monitor, so a hit, or a build of a
  * DIFFERENT key, never queues behind an in-flight build (some builds
  * run eager Spark jobs — Dedup.components executes its whole
  * label-propagation loop inside one). Two callers of the SAME key
  * still serialize, which is the point of the memo.
  */
object DfCache {
  /** Per-live-session frame bound; least-recently-used frames are
    * unpersisted and dropped once a session exceeds it. */
  val MaxPerSession = 64

  /** Generation of the table at `path`: total bytes and newest mtime
    * over every file under it (see graft.Tables.stamp). */
  final case class Stamp(path: String, bytes: Long, mtime: Long)

  /** One cache slot: the build thunk runs at most once, under this
    * memo's monitor only. `built` lets eviction unpersist exactly the
    * frames that were actually materialized; the LRU trim SKIPS
    * in-flight entries (built == null) — dropping one would orphan
    * the persisted frame its build is about to produce (nothing to
    * unpersist at drop time, no map entry left to unpersist it
    * later), so a long build under key churn waits for the next trim
    * after it completes instead. */
  private final class Memo(build: () => Any, val stamp: Option[Stamp], val frame: Boolean) {
    @volatile var built: Any = _
    @volatile var lastUsed = 0L
    private var result: Option[Try[Any]] = None
    /** Run (or await) the build under this memo's monitor, recording
      * the outcome so it runs AT MOST once — success or failure. A
      * plain lazy val retries a failed init with the ORIGINAL caller's
      * captured thunk, so a waiter blocked behind a throwing build
      * would replay it after the entry was already removed; if the
      * replay succeeded, the persisted frame would be orphaned
      * (no map entry left to ever unpersist it) and the next caller
      * would persist a duplicate (ADVICE r10). The Boolean reports
      * whether THIS call executed the thunk: the builder rethrows its
      * own failure, a waiter observing one re-enters with its own
      * thunk instead. */
    def run(): (Try[Any], Boolean) = synchronized {
      result match {
        case Some(r) => (r, false)
        case None =>
          val r = Try { val v = build(); built = v; v }
          result = Some(r)
          (r, true)
      }
    }
    def release(): Unit = built match {
      case d: Dataset[_] if frame => try d.unpersist() catch { case _: Throwable => () }
      case _ => ()
    }
  }

  private val cache = TrieMap.empty[(SparkSession, String), Memo]
  private val tick = new AtomicLong()
  private val hooked = TrieMap.empty[SparkContext, Unit]

  /** Memoize a persisted frame per (session, key). */
  def getOrElseUpdate(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    lookup(s, key, None, frame = true)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Memoize a plain value per (session, key), valid while the input
    * table's stamp is unchanged; a `None` stamp builds uncached. */
  def memo[T](s: SparkSession, key: String, stamp: Option[Stamp])(build: => T): T =
    if (stamp.isEmpty) build else lookup(s, key, stamp, frame = false)(build)

  private def drop(k: (SparkSession, String)): Unit =
    cache.remove(k).foreach(_.release())

  private def sweepStopped(): Unit = synchronized {
    cache.keys.filter(_._1.sparkContext.isStopped).foreach(drop)
  }

  @annotation.tailrec
  private def lookup[T](s: SparkSession, key: String, stamp: Option[Stamp],
      frame: Boolean)(build: => T): T = {
    hook(s)
    val k = (s, key)
    // bookkeeping only under the global lock: sweep stopped sessions,
    // replace a stale-stamped entry, insert the (unevaluated) memo,
    // trim LRU overflow, stamp recency
    val memo = synchronized {
      sweepStopped()
      val m = cache.get(k).filter(_.stamp == stamp).getOrElse {
        drop(k)
        // superseded generations of the same table go with it
        stamp.foreach { st =>
          cache.collect { case (kk @ (ss, _), old) if (ss eq s) &&
            old.stamp.exists(o => o.path == st.path && o != st) => kk }
            .foreach(drop)
        }
        val fresh = new Memo(() => build, stamp, frame)
        cache(k) = fresh
        if (frame) trim(s, key)
        fresh
      }
      m.lastUsed = tick.incrementAndGet()
      m
    }
    // build (or read) outside the global lock, under the per-key
    // monitor. A THROWING build removes its own entry (a never-built
    // memo would otherwise squat an LRU slot); the memo records the
    // failure, so the BUILDER rethrows while a WAITER that merely
    // observed it re-enters with its OWN thunk — never replaying the
    // builder's captured one (the r10 orphaned-persist race).
    memo.run() match {
      case (Success(v), _) => v.asInstanceOf[T]
      case (Failure(t), wasBuilder) =>
        synchronized { if (cache.get(k).exists(_ eq memo)) cache.remove(k) }
        if (wasBuilder) throw t
        else lookup(s, key, stamp, frame)(build)
    }
  }

  /** Drop the session's least-recently-used frames past the bound,
    * never `key` itself or an in-flight build (see Memo). */
  private def trim(s: SparkSession, key: String): Unit = {
    val frames = cache.filter { case ((ss, _), m) => (ss eq s) && m.frame }
    if (frames.size > MaxPerSession)
      frames.filter { case ((_, kk), m) => kk != key && m.built != null }
        .toSeq.sortBy(_._2.lastUsed)
        .take(frames.size - MaxPerSession).foreach(e => drop(e._1))
  }

  /** Stop-time twin of the evict-on-access sweep: one listener per
    * context, however many sessions share it (SparkContext.stop marks
    * isStopped before posting ApplicationEnd and drains the listener
    * bus on stop, so the sweep sees the dying context as stopped). A
    * stopped context is a no-op (addSparkListener would throw on its
    * dead listener bus — the on-access sweep handles those entries),
    * and a registration failure rolls back so a later live context
    * isn't mistaken for hooked. */
  private def hook(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (!sc.isStopped && hooked.putIfAbsent(sc, ()).isEmpty)
      try sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          sweepStopped()
          hooked.remove(sc)
        }
      }) catch { case _: IllegalStateException => hooked.remove(sc) }
  }

  private[graft] def sizeFor(s: SparkSession): Int =
    cache.keys.count(_._1 eq s)
  private[graft] def contains(s: SparkSession, key: String): Boolean =
    cache.contains((s, key))

  def clear(): Unit = synchronized {
    cache.values.foreach(_.release())
    cache.clear()
  }
}
