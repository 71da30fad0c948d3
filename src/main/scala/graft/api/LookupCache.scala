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
  *  - an entry is stamped with the version of the facade that
  *    computed it (the manifest version its frames read) and answers
  *    only while `version()` still equals it — an appended batch or a
  *    reorg rollback (which can change the answer at an existing
  *    height) invalidates everything at once, the only safe rule when
  *    a rollback retracts arbitrary suffixes. An answer computed from
  *    frames that a commit has since replaced carries the older
  *    version, so it is never served as the newer one's;
  *  - capacity is a hard LRU bound (access-order), so a hash-scanning
  *    crawler cannot balloon the serving heap;
  *  - negative results cache too: a 404 for an unmined hash is the
  *    single most-repeated query an explorer serves, and it
  *    invalidates like everything else when the store advances.
  *
  * Over a store, a miss does not always cost a Spark job: the facade
  * asks the store's [[HotTail]] (the rows of its two newest buckets,
  * at the facade's version) before it scans. The memo sits in front of
  * the tail and counts a tail answer as a miss, so [[hits]] and
  * [[misses]] mean the same with or without it.
  *
  * The store factories pass [[graft.ingest.ChainStore.mutationCount]]
  * as `version`: the store's manifest version, which moves with every
  * commit, whether this process wrote it or another did.
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
  // leader's future and share its answer. The facade's version is part
  // of the in-flight key, so a caller whose frames read a newer
  // version starts its own flight.
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), java.util.concurrent.CompletableFuture[Any]]()

  /** The answer for `(kind, key)`: a cached one while its version is
    * `version()`, else `compute`, stamped with `at`, the version of the
    * frames it reads. */
  def getOrCompute[T](kind: String, key: String, at: Long)(compute: => T): T = {
    val v = version()
    val k = (kind, key)
    val cached = map.synchronized(Option(map.get(k)))
    cached match {
      case Some((ver, value)) if ver == v =>
        hitCount.incrementAndGet()
        value.asInstanceOf[T]
      case _ =>
        val fk = (kind, key, at)
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
            map.synchronized { map.put(k, (at, r)); () }
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
