package graft.ops

import org.apache.spark.sql.Dataset

/** Size-bounded, access-ordered (LRU) memo — the one policy behind every
  * "stage once per corpus snapshot, every consumer reads it" cache in
  * the engine, from [[DedupOps.sharedShingles]] to the shared graph
  * sweeps in [[graft.queries.GraphQueries]].
  *
  * Every memo is bounded: an unbounded map keyed by DataFrame identity
  * or `(SparkSession, dir)` pins executor storage, pinned sweep blocks
  * (the ContextCleaner reclaims a localCheckpoint only once its frame is
  * unreachable) and stopped sessions forever in a long-lived JVM that
  * touches many corpora / parameter combos. The bound should comfortably
  * exceed the number of corpus snapshots a session works with (4 or 8
  * at the call sites).
  *
  * Evicting or clearing a `DataFrame` value calls `unpersist()`: for a
  * persisted staging frame that releases its blocks; for a stagePinned
  * frame it is a CacheManager no-op and dropping the reference is what
  * frees it. Other values (tuples, stage records, merge tables) are only
  * dropped. Evicting a frame a downstream plan still references is safe
  * — Spark recomputes unpersisted lineage — it just loses the staging
  * speedup.
  *
  * `make` runs UNDER the memo's lock, so each key is built exactly once
  * and two builds of one key never race (racing persisted builds of one
  * plan would share a CacheManager entry, so neither could be released
  * safely). Holding the lock through a build is safe because memo
  * traffic is sequential — Bench passes, Verify, the perfbench mix and
  * the forked test JVM run one gate at a time; the tasks run by
  * [[Staging.concurrently]] never call a memo — and a nested build only
  * re-enters other memos, or the same memo on the same thread
  * (`synchronized` is reentrant).
  *
  * Two kinds, stated where each memo is declared:
  *  - [[Memo.staging]] holds INPUT staging (trade edges, co-purchase
  *    edges, shared shingles, merge tables): staging once per ingest is
  *    the production contract, paid untimed up front, so these stay
  *    warm for the session.
  *  - [[Memo.sweep]] holds an OPERATOR's output shared by the gates of
  *    a sharing set (Brandes sweep, σ/dist sweep, SCC labels, event
  *    pairs, ...). Within a timed pass the first gate of the set pays
  *    the build and its twins read the pin — the production semantics a
  *    pass should measure — but across best-of-3 REPEATS a warm sweep
  *    turns the set's times into pinned-frame reads (graph_path_counts
  *    2.15 s → 0.05 s on repeat). [[Memo.clearSweeps]] drops every sweep
  *    memo, and the bench harnesses call it between timed passes.
  */
final class Memo[K, V] private (max: Int) {
  require(max > 0, "memo bound must be positive")

  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (this.size() > max) { Memo.release(e.getValue); true } else false
  }

  /** The value memoized for `k`, building it with `make` on a miss. A
    * `make` that throws stores nothing; the next call builds again. */
  def getOrElseUpdate(k: K)(make: => V): V = synchronized {
    val cur = m.get(k)
    if (cur != null) cur else { val v = make; m.put(k, v); v }
  }

  def size: Int = synchronized(m.size())

  /** Release and drop every entry (test hygiene / between bench passes). */
  def clear(): Unit = synchronized {
    m.values.forEach(v => Memo.release(v))
    m.clear()
  }
}

object Memo {
  private val sweeps = scala.collection.mutable.ArrayBuffer.empty[Memo[_, _]]

  /** An input-staging memo: survives [[clearSweeps]]. */
  def staging[K, V](max: Int): Memo[K, V] = new Memo[K, V](max)

  /** An operator-output memo: emptied by every [[clearSweeps]]. */
  def sweep[K, V](max: Int): Memo[K, V] = {
    val memo = new Memo[K, V](max)
    synchronized(sweeps += memo)
    memo
  }

  /** Drop every sweep memo; staging memos and their blocks stay. */
  def clearSweeps(): Unit = synchronized(sweeps.toList).foreach(_.clear())

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist()
    case _ =>
  }
}
