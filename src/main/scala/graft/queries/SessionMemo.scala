package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Per-SparkSession memo for expensive shared query artifacts (exact-kNN
  * ground truth, PQ codebooks/codes, built indexes). Keyed by the SESSION
  * OBJECT through a WeakHashMap — an identity hash can be reused after a
  * stopped session is GC'd, so a string key of identityHashCode could
  * serve a cached DataFrame bound to a dead SparkSession (ADVICE r5).
  *
  * The weak key alone is NOT enough to drop a dead session's entries: the
  * memoized values (DataFrames, DistIndex) strongly reference their
  * SparkSession, so the weak-key collection can never fire (ADVICE r6).
  * Eviction is therefore active: every memo instance registers in a
  * process-wide registry, each session gets one applicationEnd listener
  * hooked on first use, and that listener purges stopped sessions from ALL
  * registered memo instances — a stopped session's cached plans are
  * released when it ends, not on some later access that may never come.
  *
  * LOCK-ORDERING INVARIANT (ADVICE r13): `getOrElseUpdate` runs the
  * factory `mk` while HOLDING this memo's instance lock, and the bench
  * materializes the ANN and graph memo families from two concurrent
  * driver threads. The lock graph stays acyclic only while memo factories
  * acquire other memo locks in one direction — today every factory calls
  * at most "leaf" memos (Tables reads, its own family's sub-artifacts)
  * and the two concurrent families touch DISJOINT memo instances. Within
  * each family, `materializeShared` also runs three factories at once:
  * `QueriesGraph`'s `memMemo`, `bipartiteMemo` and `distMemo`, and
  * `QueriesAnn`'s `pqMemo`, `gtMemo` and `ivfListsMemo`. Each of the six
  * reads only Tables, and `distMemo` keeps its search view in the same
  * entry rather than in a nested memo, so none of them takes a second
  * memo lock. `Tables`' memo is a leaf: its factory only reads parquet and
  * takes no other memo lock, so any factory may call `Tables`. A new
  * cross-family memo reference (e.g. a graph memo whose factory reads a
  * QueriesAnn memo while QueriesAnn's factory reads a graph memo) would
  * deadlock the concurrent setup — either keep the reference one-way, or
  * move the factory computation outside `synchronized` behind a per-key
  * latch before adding such an edge. */
private[graft] final class SessionMemo[V] {
  SessionMemo.register(this)

  private val map =
    new java.util.WeakHashMap[SparkSession, collection.mutable.Map[String, V]]()

  def getOrElseUpdate(s: SparkSession, key: String)(mk: => V): V =
    synchronized {
      purgeStopped()
      SessionMemo.hookSession(s)
      map.computeIfAbsent(s, _ => collection.mutable.Map.empty[String, V])
        .getOrElseUpdate(key, mk)
    }

  /** Drop entries whose SparkContext has stopped (idempotent). */
  private[queries] def purgeStopped(): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
  }
}

private[graft] object SessionMemo {
  private val instances = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[SessionMemo[_]]]()

  // One listener per SparkContext; weak so a stopped, GC'd context does
  // not pin this set. Guarded by its own lock (instance lock -> this lock
  // is the only ordering, so no cycle with the listener thread, which
  // takes only instance locks via purgeAll).
  private val hooked = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private def register(m: SessionMemo[_]): Unit =
    instances.add(new java.lang.ref.WeakReference(m))

  private def hookSession(s: SparkSession): Unit = hooked.synchronized {
    val sc = s.sparkContext
    if (hooked.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        purgeAll()
    })
  }

  /** Purge stopped sessions from every live memo instance. */
  def purgeAll(): Unit = {
    val it = instances.iterator()
    while (it.hasNext) {
      val m = it.next().get()
      if (m == null) it.remove() else m.purgeStopped()
    }
  }
}
