package graft.api

/** Bounded, version-aware memo for the serving facade's POINT lookups
  * (`GET /block/{id}`, `GET /transaction/{hash}`).
  *
  * The reference serves these from PostgreSQL B-tree indexes in
  * sub-millisecond time (`README.md:238`). A cold lookup here is one
  * pruned Spark job, but the driver work around that job (planning,
  * codegen, scheduling) costs tens of milliseconds however few bytes
  * the scan reads — inherent to the engine choice (SURVEY §7.4). What
  * a serving process CAN match is the reference's behavior on the traffic that
  * actually dominates a block explorer: repeated lookups of the same
  * recent keys. This memo answers a repeat in-process with ZERO Spark
  * jobs (spec-asserted via a job listener), while staying exactly as
  * fresh as the store:
  *
  *  - entries are stamped with the store's MUTATION VERSION at compute
  *    time and ignored once the version moves — an appended batch or a
  *    reorg rollback (which can change the answer at an existing
  *    height) invalidates everything at once, the only safe rule when
  *    a rollback retracts arbitrary suffixes;
  *  - capacity is a hard LRU bound (access-order), so a hash-scanning
  *    crawler cannot balloon the serving heap;
  *  - negative results cache too: a 404 for an unmined hash is the
  *    single most-repeated query an explorer serves, and it
  *    invalidates like everything else when the store advances.
  *
  * Over a store, a miss does not always cost a Spark job: the facade
  * asks the store's [[HotTail]] (the rows of its two newest buckets,
  * stamped with the same mutation version) before it scans. The memo
  * sits in front of the tail and counts a tail answer as a miss, so
  * [[hits]] and [[misses]] mean the same with or without it.
  *
  * In-process only, by design: the store's single-writer contract
  * means a co-located serving thread (the I-13 shape) sees every
  * mutation through [[graft.ingest.ChainStore.mutationCount]]. A
  * REMOTE reader process sees the writer's commits as new manifest
  * versions on its next `read`, but this memo is not keyed on them
  * yet, so such a process must serve uncached (pass no cache —
  * correctness first). For the same reason only a store that holds
  * the writer lock builds a hot tail.
  */
final class LookupCache(maxEntries: Int = 4096, version: () => Long = () => 0L) {

  private val map = new java.util.LinkedHashMap[(String, String), (Long, Any)](
    64, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String), (Long, Any)]): Boolean =
      size() > maxEntries
  }

  // observability for specs and ops: how often the memo actually works
  private val hitCount = new java.util.concurrent.atomic.AtomicLong()
  private val missCount = new java.util.concurrent.atomic.AtomicLong()
  private val coalescedCount = new java.util.concurrent.atomic.AtomicLong()

  // Per-(kind, key, version) single-flight: a thundering herd on one
  // cold hot key runs ONE Spark compute; the followers block on the
  // leader's future and share its answer. The version is part of the
  // in-flight key so a compute raced by a store mutation never serves
  // a stale answer to callers who arrived after the version moved —
  // they start their own flight under the new version.
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), java.util.concurrent.CompletableFuture[Any]]()

  def getOrCompute[T](kind: String, key: String)(compute: => T): T = {
    val v = version()
    val k = (kind, key)
    val cached = map.synchronized(Option(map.get(k)))
    cached match {
      case Some((ver, value)) if ver == v =>
        hitCount.incrementAndGet()
        value.asInstanceOf[T]
      case _ =>
        val fk = (kind, key, v)
        val mine = new java.util.concurrent.CompletableFuture[Any]()
        val prior = inflight.putIfAbsent(fk, mine)
        if (prior != null) {
          // somebody is already computing this exact (key, version):
          // wait for their answer instead of launching a duplicate job
          coalescedCount.incrementAndGet()
          try prior.join().asInstanceOf[T]
          catch {
            // surface the leader's original failure, not the wrapper
            case e: java.util.concurrent.CompletionException
                if e.getCause != null => throw e.getCause
          }
        } else {
          // compute OUTSIDE the lock: a Spark job must never serialize
          // every other serving thread behind this map
          missCount.incrementAndGet()
          try {
            val r = compute
            map.synchronized { map.put(k, (v, r)); () }
            mine.complete(r)
            r
          } catch {
            case e: Throwable =>
              mine.completeExceptionally(e)
              throw e
          } finally inflight.remove(fk, mine)
        }
    }
  }

  def hits: Long = hitCount.get()
  def misses: Long = missCount.get()
  /** Requests that piggybacked on another thread's in-flight compute. */
  def coalesced: Long = coalescedCount.get()
  def size: Int = map.synchronized(map.size())
}
