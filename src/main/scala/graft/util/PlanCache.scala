package graft.util

/** Tiny synchronized LRU for materialized derived frames (shingle
  * indexes, metadata caches) keyed by logical plan or (session, path).
  *
  * An unbounded plan-keyed map is a slow leak in a long-lived service —
  * every distinct input plan pins a cached DataFrame's blocks forever —
  * so this cache holds at most `maxEntries` values in access order and
  * runs `onEvict` (typically `unpersist()`) on the one it drops. `clear`
  * evicts everything, for session teardown or when underlying data is
  * known to have changed.
  */
final class PlanCache[K, V <: AnyRef](val maxEntries: Int, onEvict: V => Unit,
    val name: String = "") {
  require(maxEntries > 0, "maxEntries must be positive")
  PlanCache.register(this)

  // Observability (r18, VERDICT item 3): hits/misses/evictions since
  // JVM start — the bench's cache-stats line reads these so an LRU
  // thrash (entries evicted between reps and rebuilt every round)
  // shows up as misses ≈ accesses instead of staying invisible inside
  // a wall-clock number.
  private var hitCount = 0L
  private var missCount = 0L
  private var evictCount = 0L

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (this.size() > maxEntries) { onEvict(e.getValue); evictCount += 1; true }
      else false
  }

  /** Lookup-or-build. `compute` runs OUTSIDE the cache lock — builds
    * can be whole multi-job index constructions (k-means, shingling)
    * and must not serialize unrelated callers. Two threads racing on
    * the same key may both compute; the loser's value is evicted
    * immediately and the winner's returned. */
  def getOrElseUpdate(k: K)(compute: => V): V = {
    synchronized {
      val existing = map.get(k)
      if (existing != null) { hitCount += 1; return existing }
      missCount += 1
    }
    val v = compute
    synchronized {
      val raced = map.get(k)
      if (raced != null) { onEvict(v); raced }
      else { map.put(k, v); v }
    }
  }

  def stats: (String, Int, Int, Long, Long, Long) = synchronized {
    (name, map.size, maxEntries, hitCount, missCount, evictCount)
  }

  def clear(): Unit = synchronized {
    map.values.forEach(v => onEvict(v))
    map.clear()
  }

  def size: Int = synchronized(map.size)
}

object PlanCache {
  // Every instance, so "drop every derived index in the engine" is one
  // call — used by the bench's plan-fingerprint pass, which needs each
  // query's COLD plan (a warm cache splices an InMemoryRelation whose
  // rendering embeds run-dependent ids into the logical plan). The
  // instances are a handful of object-level singletons, so a strong
  // list doesn't leak.
  private val instances = scala.collection.mutable.ListBuffer.empty[PlanCache[_, _]]

  private def register(c: PlanCache[_, _]): Unit =
    instances.synchronized { instances += c }

  /** Clear every PlanCache in the process. */
  def clearAll(): Unit =
    instances.synchronized { instances.foreach(_.clear()) }

  /** Live entries across every registered cache — the engine's total
    * derived-index footprint in cached-plan COUNT. */
  def totalEntries: Int =
    instances.synchronized { instances.map(_.size).sum }

  /** Sum of per-cache LRU capacities: the registry-level ceiling
    * totalEntries can never exceed, however many queries run. Exists so
    * a test can assert the per-cache bounds COMPOSE (CacheBudgetSpec)
    * and a deployment can reason about worst-case pinned plans. */
  def totalBudget: Int =
    instances.synchronized { instances.map(_.maxEntries).sum }

  /** One compact JSON fragment per registered cache (skips caches that
    * were never accessed): size/cap plus lifetime hit/miss/evict
    * counts. The bench prints this after the stable-metrics pass. */
  def statsJson: String = instances.synchronized {
    instances.map(_.stats)
      .filter { case (_, _, _, h, m, _) => h + m > 0 }
      .zipWithIndex
      .map { case ((n, size, cap, h, m, e), i) =>
        val nm = if (n.nonEmpty) n else s"cache$i"
        s""""$nm":{"size":$size,"cap":$cap,"hits":$h,"misses":$m,"evictions":$e}"""
      }.mkString("{", ",", "}")
  }
}
