package graft.core

import org.apache.spark.sql.SparkSession

/** Per-(session, key) memo for session-bound values (cached DataFrames,
  * memory-sink view names): entries must never cross sessions — a cached
  * plan or temp-view name from session A is dead to session B — and must
  * not accumulate without bound either.
  *
  * Weak references cannot do the bounding here: a cached DataFrame
  * strongly references its own SparkSession, so a WeakHashMap entry whose
  * value (transitively) holds a DataFrame keeps its key reachable forever
  * — the classic value→key cycle the WeakHashMap javadoc warns about.
  * Instead the memo is an LRU over SESSIONS: at most `maxSessions`
  * sessions are tracked, and evicting one runs `onEvict` over its values
  * (e.g. `unpersist`) so driver/executor cache actually frees. A
  * long-lived service creating request-scoped sessions is bounded at
  * `maxSessions` sessions' worth of index state — and can drop to zero
  * eagerly by calling [[SessionMemo.release]] when it retires a session,
  * instead of waiting for LRU pressure. */
final class SessionMemo[V](maxSessions: Int = 8, onEvict: V => Unit = (_: V) => ()) {
  private val bySession =
    new java.util.LinkedHashMap[SparkSession, scala.collection.mutable.Map[String, V]](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, scala.collection.mutable.Map[String, V]]): Boolean = {
        val evict = size() > maxSessions
        if (evict)
          e.getValue.values.foreach(v => try onEvict(v) catch { case _: Exception => () })
        evict
      }
    }

  def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V = synchronized {
    val inner = Option(bySession.get(s)).getOrElse {
      val m = scala.collection.mutable.Map.empty[String, V]
      bySession.put(s, m)
      m
    }
    inner.getOrElseUpdate(key, { SessionMemo.noteBuild(); build })
  }

  /** Drop everything memoized for `s`, running `onEvict` (unpersist) on
    * each value. Idempotent; safe on a never-seen session. */
  def clear(s: SparkSession): Unit = synchronized {
    Option(bySession.remove(s)).foreach(_.values.foreach(v =>
      try onEvict(v) catch { case _: Exception => () }))
  }

  /** Drop ONE memoized key for `s`, running `onEvict` on its value. */
  def remove(s: SparkSession, key: String): Unit = synchronized {
    Option(bySession.get(s)).foreach(inner =>
      inner.remove(key).foreach(v => try onEvict(v) catch { case _: Exception => () }))
  }

  /** Drop every key of `s` that equals `dir` or names a path under it
    * (`dir/documents.parquet`, a `dir/` glob), running `onEvict` on
    * each value. */
  private[core] def removeUnder(s: SparkSession, dir: String): Unit = synchronized {
    val root = dir.stripSuffix("/")
    Option(bySession.get(s)).foreach(inner =>
      inner.keys.filter(k => k == root || k.startsWith(root + "/")).toSeq
        .foreach(remove(s, _)))
  }

  // register LAST: a construction-ordered publish — the registry must never
  // hand a concurrent release() a memo whose state is still uninitialized
  SessionMemo.register(this)
}

object SessionMemo {
  /** Process-wide count of memo BUILDS (getOrElseUpdate misses) across all
    * memos. The bench snapshots it around each query's warm reps: a nonzero
    * delta there means a memoized index/frame was evicted and re-pinned
    * mid-sweep (the round-11 bench-regression class) — mechanical evidence
    * for adjudicating elevated medians instead of prose. */
  private val buildCounter = new java.util.concurrent.atomic.AtomicLong()
  def buildCount: Long = buildCounter.get
  private def noteBuild(): Unit = { buildCounter.incrementAndGet(); () }

  /** Every live memo, weakly — so [[release]] can sweep all of them
    * without memos outliving their owners. */
  private val instances =
    scala.collection.mutable.ArrayBuffer.empty[java.lang.ref.WeakReference[SessionMemo[_]]]

  private def register(m: SessionMemo[_]): Unit = synchronized {
    instances += new java.lang.ref.WeakReference(m)
    instances.filterInPlace(_.get != null)
    ()
  }

  /** Session-retirement hook for service JVMs cycling request-scoped
    * sessions: releases every memoized value (cached cluster frames, ANN
    * index frames, …) held for `s` across ALL memos in the process, so a
    * retired session's cached blocks free immediately instead of aging
    * out of the 8-session LRU. Call right before discarding a session
    * obtained from `newSession()` / `getOrCreate()`. */
  def release(s: SparkSession): Unit = live().foreach(_.clear(s))

  /** Corpus-dir eviction for callers that build a THROWAWAY copy of a
    * corpus dir: drops, across ALL memos, every entry of `s` keyed by
    * `dir` or by a path under it, so persisted frames and index sidecars
    * built from the copy neither stay pinned for the session's lifetime
    * nor recompute a lost block against a deleted path. Other sessions'
    * entries and other keys are untouched. */
  def evictDir(s: SparkSession, dir: String): Unit = live().foreach(_.removeUnder(s, dir))

  private def live(): Seq[SessionMemo[_]] = synchronized {
    instances.flatMap(r => Option(r.get)).toSeq
  }
}
