package graft.search

/** Weight-bounded, fetch-through LRU: one access-ordered map under one
  * lock. Every serving cache on a [[GraftIndex]] handle is one of these —
  * byte-budgeted ones weigh an entry by its estimated heap size,
  * entry-capped ones weigh every entry 1. After each install the eldest
  * entries are evicted until the total weight is at most `capacity`. */
final class Lru[K, V](capacity: Long, weight: V => Long) {
  private val map = new java.util.LinkedHashMap[K, V](256, 0.75f, true)
  private var total = 0L

  /** Cached value of `k`; a hit refreshes its recency. */
  def get(k: K): Option[V] = synchronized(Option(map.get(k)))

  /** Install (or replace) `k`, then evict down to capacity. */
  def put(k: K, v: V): Unit = synchronized { install(k, v); evict() }

  def clear(): Unit = synchronized { map.clear(); total = 0L }

  /** Total weight of the cached entries. */
  def totalWeight: Long = synchronized(total)

  /** Values of every key in `keys`. Hits are read under the lock (and
    * refreshed); the misses go to ONE `fetchMisses` call that runs outside
    * it, so a cold fetch (a Spark job) never serializes concurrent readers.
    * A fetched value is installed only if no other thread installed the
    * key first, and keys `fetchMisses` leaves out are neither cached nor
    * returned. The result holds the values captured here, never re-read
    * from the map, so eviction — even of a batch heavier than the whole
    * capacity — cannot take a value away from the caller. */
  def getAll(keys: Seq[K])(fetchMisses: Seq[K] => Map[K, V]): Map[K, V] = {
    val (hits, misses) = synchronized {
      val h = Map.newBuilder[K, V]
      val m = Vector.newBuilder[K]
      keys.distinct.foreach { k =>
        val v = map.get(k)
        if (v != null) h += (k -> v) else m += k
      }
      (h.result(), m.result())
    }
    if (misses.isEmpty) return hits
    val got = fetchMisses(misses)
    val fetched = misses.flatMap(k => got.get(k).map(k -> _))
    synchronized {
      fetched.foreach { case (k, v) => if (!map.containsKey(k)) install(k, v) }
      evict()
    }
    hits ++ fetched
  }

  private def install(k: K, v: V): Unit = {
    val old = map.put(k, v)
    if (old != null) total -= weight(old)
    total += weight(v)
  }

  private def evict(): Unit = {
    val it = map.values().iterator()
    while (total > capacity && it.hasNext) {
      total -= weight(it.next())
      it.remove()
    }
  }
}
