package graft.sources

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong
import graft.ingest.SimChain

/** The chain-fetch seam: the three RPC operations the reference's
  * ingester makes against a node (`src/main.rs:96-106` head discovery,
  * `:129` block+txs, `:204-227` receipt fan-out), extracted as a trait
  * so the streaming source can run over either the in-process simulated
  * chain or a real JSON-RPC endpoint ([[JsonRpcFetcher]]) without
  * touching the ingest pipeline.
  *
  * A fetcher is opened per partition reader (and once on the driver for
  * head discovery) from a serializable [[FetcherConf]] — the fetcher
  * itself holds live resources (HTTP connections, caches) and never
  * crosses the driver/executor boundary.
  *
  * Implementations must tolerate concurrent calls of every method: a
  * partition reader shares one fetcher across its [[FetchPool]], which
  * fetches the partition's blocks, then their receipts, up to
  * `receiptConcurrency` at a time (the reference's
  * `buffer_unordered(10)`, `src/main.rs:204-227`).
  */
trait ChainFetcher extends AutoCloseable {
  /** I-2: highest block the node currently has (`eth_blockNumber`). */
  def blockNumber(): Long
  /** I-3: block with full transaction objects
    * (`eth_getBlockByNumber(n, full_tx=true)`); None when the node has
    * no block at this height (the reference's `Ok(None)` skip path,
    * `src/main.rs:134-139`) — never retried, unlike transport errors. */
  def blockWithTxs(n: Long): Option[WireBlock]
  /** Receipt for one tx (`eth_getTransactionReceipt`); None when the
    * node has none (tolerated downstream as status=null, no logs). */
  def transactionReceipt(txHash: String): Option[WireReceipt]
  /** All logs of the inclusive block range `[from, to]` in one call
    * (`eth_getLogs {fromBlock, toBlock}`) — the range strategy the
    * reference names "the highest-impact future optimization"
    * (`README.md:90`). Logs arrive block-scoped (block-level
    * `logIndex`, tagged with the observed `blockHash`); alignment back
    * into the per-tx envelope happens in [[ChainFetch.rangeEnvelopes]].
    * Throws when the node/strategy does not support range queries —
    * the caller opts in explicitly via `fetchStrategy=range`. */
  def logsInRange(from: Long, to: Long): Seq[WireRangeLog] =
    throw new UnsupportedOperationException("range log fetch unsupported")
  /** Receipt STATUS of every tx in block `n` in one call
    * (`eth_getBlockReceipts`). None = the node does not serve the
    * method → the range strategy falls back to the per-tx receipt
    * fan-out for status only (logs still come from the range call).
    * An empty map = the node has the block but no receipts for it
    * (status=null downstream, the receiptless-tolerance path). */
  def blockReceiptStatuses(n: Long): Option[Map[String, Option[Long]]] = None
  override def close(): Unit = ()
}

/** Serializable recipe for opening a [[ChainFetcher]] on whichever JVM
  * the partition lands on. */
trait FetcherConf extends Serializable {
  def open(): ChainFetcher
}

/** Block + embedded tx objects as they arrive off the wire — receipts
  * are NOT here (they are a separate N+1 fetch, exactly the reference's
  * two-phase shape). `value`/`gas` are decimal-string U256 already
  * (hex→decimal conversion happens at the wire boundary, in the
  * fetcher), `gas` being the TX-side gas field the reference persists
  * as the tx's gas column (`src/main.rs:265`) — which is why it
  * survives a missing receipt. */
case class WireTx(hash: String, index: Long, from: String, to: String,
                  value: String, gas: String)
case class WireBlock(number: Long, hash: String, parentHash: String,
                     timestamp: Long, txs: Seq[WireTx])
/** Receipt wire shape: the two fields the reference takes from it —
  * `status` (`src/main.rs:250-253`) and `logs` (`:274-295`). Topics
  * arrive as the raw array; positional split happens at assembly. */
case class WireReceipt(status: Option[Long], logs: Seq[WireLog])
case class WireLog(logIndex: Long, address: String, topics: Seq[String],
                   data: String)
/** One log as `eth_getLogs` returns it: block-scoped `logIndex` (the
  * position within the whole BLOCK, not within its tx — the schema
  * difference the reference's README warns needs "careful …  schema
  * alignment"), tagged with the `blockHash` it was observed on so a
  * reorg racing the range call cannot attach stale-branch logs to a
  * fresh block, and `removed` (true = the node itself flags the log as
  * reorged away). */
case class WireRangeLog(blockNumber: Long, blockHash: String, txHash: String,
                        logIndexInBlock: Long, address: String,
                        topics: Seq[String], data: String,
                        removed: Boolean = false)

/** The I/O threads of one partition reader: a fixed pool of
  * `threads` named daemon threads (at least one), so a partition never
  * has more than `threads` RPC calls in flight however many blocks it
  * holds — the reference's `buffer_unordered(MAX_RECEIPT_CONCURRENT)`
  * bound (`src/main.rs:26,204-227`), applied to the whole partition.
  * The reader's thread submits one flat phase at a time and waits for
  * it; a pool task never submits to the pool, so no task waits on
  * another. */
final class FetchPool(threads: Int) extends AutoCloseable {
  private val exec = Executors.newFixedThreadPool(math.max(1, threads), FetchPool.daemons)

  /** `f` over `xs` on the pool; results in the order of `xs`. The
    * first failure — or an interrupt of the waiting thread, which is
    * how Spark cancels a task — cancels the calls still queued or
    * running and is rethrown. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val futures = xs.toVector.map(x => exec.submit(new Callable[B] { def call(): B = f(x) }))
    try futures.map(fu => try fu.get() catch { case e: ExecutionException => throw e.getCause })
    catch { case e: Throwable => futures.foreach(_.cancel(true)); throw e }
  }

  /** Interrupts the calls still running; idle threads exit at once. */
  override def close(): Unit = exec.shutdownNow(): Unit
}

object FetchPool {
  /** The name prefix of every fetch thread. */
  val ThreadPrefix = "graft-chain-fetch-"
  private val ids = new AtomicLong()
  private val daemons: ThreadFactory = r => {
    val t = new Thread(r, ThreadPrefix + ids.incrementAndGet())
    t.setDaemon(true)
    t
  }

  def using[T](threads: Int)(body: FetchPool => T): T = {
    val pool = new FetchPool(threads)
    try body(pool) finally pool.close()
  }
}

object ChainFetch {

  /** The reference's retry policy (3 attempts, exponential backoff —
    * `src/main.rs:28-29,49,140-158`), parameterized so tests keep
    * millisecond backoffs where production uses seconds. Retries only
    * on exceptions; a successful None (absent block/receipt) returns
    * immediately. */
  def retry[T](maxAttempts: Int, baseBackoffMs: Long)(op: => T): T = {
    var attempt = 0
    var backoff = baseBackoffMs
    var out: Option[T] = None
    while (out.isEmpty) {
      attempt += 1
      try out = Some(op)
      catch {
        // An interrupt is a CANCELLATION (Spark's task reaper killing
        // the partition on query stop / speculative kill), never a
        // transient fetch failure — restore the flag and propagate
        // instead of sleeping through the backoff schedule.
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case _: Exception if attempt < maxAttempts =>
          Thread.sleep(backoff)
          backoff *= 2
      }
    }
    out.get
  }

  /** One block's envelope: [[envelopes]] for the single height `n`,
    * over a pool of its own for this call. For callers outside a
    * partition reader; a reader fetches its whole run through the one
    * pool it holds. */
  def envelope(fetcher: ChainFetcher, n: Long, maxRetries: Int,
               baseBackoffMs: Long, receiptConcurrency: Int): Option[SimChain.SimBlock] =
    FetchPool.using(receiptConcurrency)(
      envelopes(_, fetcher, n, n, maxRetries, baseBackoffMs)).headOption

  /** The N+1 path over the heights `[from, toIncl]`: envelopes in
    * height order, absent heights skipped (I-14). Two flat phases over
    * `pool`, so the run never has more calls in flight than the pool
    * has threads: every block (block+txs, with [[retry]]), then every
    * receipt of those blocks. A receipt that still fails after all
    * retries degrades to None — the reference's `unwrap_or(None)`
    * (`src/main.rs:216-218`) — so one poisoned tx cannot sink its
    * block; an absent receipt lands as status=null with no logs.
    *
    * Cross-block parallelism is this pool, not Spark's task slots: a
    * partition holds one task slot's run of heights, so its blocks
    * wait on the node together instead of one task slot each. */
  def envelopes(pool: FetchPool, fetcher: ChainFetcher, from: Long, toIncl: Long,
                maxRetries: Int, baseBackoffMs: Long): Seq[SimChain.SimBlock] = {
    val blocks = fetchBlocks(pool, fetcher, from, toIncl, maxRetries, baseBackoffMs)
    val receipts = fetchReceipts(pool, fetcher, blocks, maxRetries, baseBackoffMs)
    blocks.map(assemble(_, receipts))
  }

  private def fetchBlocks(pool: FetchPool, fetcher: ChainFetcher, from: Long, toIncl: Long,
                          maxRetries: Int, baseBackoffMs: Long): Seq[WireBlock] =
    pool.map(from to toIncl)(n => retry(maxRetries, baseBackoffMs)(fetcher.blockWithTxs(n))).flatten

  /** The per-tx receipt burst shared by both strategies, one flat
    * phase over every tx of `blocks`: the N+1 path takes full receipts
    * (status + logs); the range path reuses it as the STATUS fallback
    * when the node lacks `eth_getBlockReceipts`. */
  private def fetchReceipts(pool: FetchPool, fetcher: ChainFetcher, blocks: Seq[WireBlock],
                            maxRetries: Int, baseBackoffMs: Long): Map[String, Option[WireReceipt]] = {
    val hashes = blocks.flatMap(_.txs.map(_.hash))
    hashes.zip(pool.map(hashes)(fetchReceipt(fetcher, _, maxRetries, baseBackoffMs))).toMap
  }

  /** I-3 via the range strategy (`eth_getLogs`): ONE log call for the
    * whole inclusive block range `[from, toIncl]` + one block call and
    * one `eth_getBlockReceipts` status call per block — O(ranges +
    * blocks) RPCs where the N+1 path is O(blocks + txs). The receipt
    * N+1 survives only as the status fallback for nodes without
    * `eth_getBlockReceipts` (and even then the per-receipt payload
    * shrinks to a status bit; logs never ride receipts here).
    *
    * The "careful deduplication and schema alignment" the reference's
    * README calls out (`README.md:90`) is this method:
    *  - `removed=true` logs (node-flagged reorg casualties) drop first;
    *  - duplicates dedup on (blockNumber, blockHash, txHash,
    *    logIndexInBlock) — a node re-serving overlapping chunks cannot
    *    double-emit;
    *  - logs key by the (blockNumber, blockHash, txHash) they were
    *    OBSERVED at, so stale-branch logs keyed by an old hash never
    *    attach to a fresh block, and a lying node serving the SAME
    *    hash at two heights cannot merge logs across them (the N+1
    *    path gets this for free because receipts are fetched after
    *    the block; the range path must reconstruct it);
    *  - block-level `logIndex` re-indexes to the envelope's per-tx
    *    order (sort by block index within each tx, then 0..n-1).
    *
    * A reorg RACING the window is the one hazard keying alone cannot
    * absorb: stale-keyed logs falling away would leave fresh-branch
    * blocks persisted with silently EMPTY logs — data the N+1 path
    * cannot lose. So the window must prove the block and log views
    * describe ONE branch: blocks are fetched FIRST (their hashes pin
    * the branch), then the range logs, and the pair counts as stable
    * only if (a) no height carries log evidence exclusively for a
    * foreign hash (logs observed at n but none matching the fetched
    * block — extra stale/duplicate entries beside matching ones are
    * fine, the alignment drops them), (b) one head re-fetch after
    * the log call returns the same hash for the window's last present
    * block (any reorg touching the window rewrites its suffix,
    * including that block), and (c) the fetched blocks themselves are
    * parent-hash linked across every pair of CONSECUTIVE present
    * heights (`b.parentHash == previous.hash` — the same linkage rule
    * the ingester's reorg detection applies, reference
    * `src/main.rs:168-199`). (c) closes the remaining corner (a)+(b)
    * miss: a reorg landing mid-BLOCK-fetch leaves the window's prefix
    * on the stale branch and its suffix on the fresh one — the suffix
    * satisfies the head re-check, and if the fresh branch happens to
    * carry no logs at the stale heights there is no foreign-only log
    * evidence either — but the seam between the branches always
    * breaks parent linkage. (Heights absent from the node interrupt
    * the chain, so linkage is only checkable between ADJACENT present
    * heights; a mid-fetch reorg within such a gap still trips (a)/(b)
    * or lands wholly on one branch.) An unstable window falls back to
    * the per-block N+1 path — receipts carry authoritative logs —
    * costing O(txs) for that one rare window instead of a silent
    * hole.
    *
    * Returns one envelope per block present on the node; absent
    * heights skip exactly like the per-block path (I-14).
    *
    * The per-block calls run through `pool` in flat phases, in this
    * order: every block; the one log call and the head re-fetch (on
    * the caller's thread); every `eth_getBlockReceipts`; then the
    * per-tx status fallback for the blocks it did not cover. The
    * stability checks see the same data as a one-at-a-time fetch: all
    * blocks before the log call, the log call before the re-fetch. */
  def rangeEnvelopes(pool: FetchPool, fetcher: ChainFetcher, from: Long, toIncl: Long,
                     maxRetries: Int, baseBackoffMs: Long): Seq[SimChain.SimBlock] = {
    if (toIncl < from) return Nil
    val blocks = fetchBlocks(pool, fetcher, from, toIncl, maxRetries, baseBackoffMs)
    val live = retry(maxRetries, baseBackoffMs)(fetcher.logsInRange(from, toIncl))
      .filterNot(_.removed)
    val hashesAt: Map[Long, Set[String]] =
      live.groupBy(_.blockNumber).map { case (n, ls) => n -> ls.map(_.blockHash).toSet }
    val foreignOnlyEvidence = blocks.exists { b =>
      val hs = hashesAt.getOrElse(b.number, Set.empty)
      hs.nonEmpty && !hs.contains(b.hash)
    }
    val parentLinked = blocks.zip(blocks.drop(1)).forall { case (prev, b) =>
      b.number != prev.number + 1 || b.parentHash == prev.hash
    }
    val headStable = blocks.lastOption.forall { last =>
      retry(maxRetries, baseBackoffMs)(fetcher.blockWithTxs(last.number))
        .exists(_.hash == last.hash)
    }
    if (foreignOnlyEvidence || !parentLinked || !headStable)
      return envelopes(pool, fetcher, from, toIncl, maxRetries, baseBackoffMs)
    // keyed by (blockNumber, blockHash, txHash), number included: a
    // lying/buggy node serving the SAME hash at two heights (a hash
    // "collision" cannot happen honestly — the hash identifies the
    // block) must not get its logs merged across heights; each height
    // keeps only the logs observed at that height for that hash.
    // Duplicates with conflicting payloads at one key keep the first
    // occurrence (deterministic in response order) — the honest-node
    // case is byte-identical duplicates from overlapping chunks.
    val byTx: Map[(Long, String, String), Seq[WireLog]] = live
      .distinctBy(l => (l.blockNumber, l.blockHash, l.txHash, l.logIndexInBlock))
      .groupBy(l => (l.blockNumber, l.blockHash, l.txHash))
      .map { case (k, ls) =>
        k -> ls.sortBy(_.logIndexInBlock).zipWithIndex.map { case (l, i) =>
          WireLog(i, l.address, l.topics, l.data)
        }
      }
    // a persistently ERRORING eth_getBlockReceipts (anything but the
    // clean method-absent None) degrades to the per-tx status fallback
    // exactly like the absent method — the fallback exists, so a
    // broken aggregate endpoint must not sink the partition
    def aggregate(b: WireBlock): Option[Map[String, Option[Long]]] =
      try fetchBlockStatuses(fetcher, b.number, maxRetries, baseBackoffMs)
      catch { case _: Exception => None }
    // the first block asks alone: a node without the method answers
    // method-not-found once and the fetcher remembers it, so the other
    // blocks do not each probe
    val aggregates = blocks.take(1).map(aggregate) ++ pool.map(blocks.drop(1))(aggregate)
    val uncovered = blocks.zip(aggregates).collect { case (b, None) => b }
    val perTx: Map[String, Option[Long]] =
      fetchReceipts(pool, fetcher, uncovered, maxRetries, baseBackoffMs)
        .map { case (h, r) => h -> r.flatMap(_.status) }
    blocks.zip(aggregates).map { case (b, agg) =>
      val statuses = agg.getOrElse(perTx)
      SimChain.SimBlock(b.number, b.hash, b.parentHash, b.timestamp,
        b.txs.sortBy(_.index).map { t =>
          SimChain.SimTx(t.hash, t.index, t.from, t.to, t.value, t.gas,
            statuses.getOrElse(t.hash, None),
            byTx.getOrElse((b.number, b.hash, t.hash), Nil).map { l =>
              SimChain.SimLog(l.logIndex, l.address,
                l.topics.lift(0).orNull, l.topics.lift(1), l.topics.lift(2),
                l.topics.lift(3), l.data)
            })
        })
    }
  }

  /** [[rangeEnvelopes]] over a pool of its own for this call, for
    * callers outside a partition reader. */
  def rangeEnvelopes(fetcher: ChainFetcher, from: Long, toIncl: Long,
                     maxRetries: Int, baseBackoffMs: Long,
                     receiptConcurrency: Int): Seq[SimChain.SimBlock] =
    FetchPool.using(receiptConcurrency)(
      rangeEnvelopes(_, fetcher, from, toIncl, maxRetries, baseBackoffMs))

  /** `eth_getBlockReceipts` with the standard retry; an
    * unsupported-method signal (None) is NOT retried — it is a stable
    * property of the node, and the caller's per-tx fallback takes over. */
  private def fetchBlockStatuses(fetcher: ChainFetcher, n: Long, maxRetries: Int,
                                 baseBackoffMs: Long): Option[Map[String, Option[Long]]] =
    retry(maxRetries, baseBackoffMs)(fetcher.blockReceiptStatuses(n))

  private def fetchReceipt(fetcher: ChainFetcher, txHash: String,
                           maxRetries: Int, baseBackoffMs: Long): Option[WireReceipt] =
    try retry(maxRetries, baseBackoffMs)(fetcher.transactionReceipt(txHash))
    catch { case _: Exception => None } // unwrap_or(None): block survives

  /** Join block-side tx fields with receipt-side status/logs into the
    * nested envelope the ingester flattens — the in-memory analog of
    * the reference's per-block insert loop (`src/main.rs:240-295`).
    * Topics split positionally into topic0..3 (`src/db.rs:84-89`). */
  def assemble(b: WireBlock, receipts: Map[String, Option[WireReceipt]]): SimChain.SimBlock =
    SimChain.SimBlock(b.number, b.hash, b.parentHash, b.timestamp,
      b.txs.sortBy(_.index).map { t =>
        val receipt = receipts.getOrElse(t.hash, None)
        SimChain.SimTx(t.hash, t.index, t.from, t.to, t.value, t.gas,
          receipt.flatMap(_.status),
          receipt.map(_.logs).getOrElse(Nil).map { l =>
            SimChain.SimLog(l.logIndex, l.address,
              l.topics.lift(0).orNull, l.topics.lift(1), l.topics.lift(2),
              l.topics.lift(3), l.data)
          })
      })

  /** 0x-hex quantity → Long (block numbers, timestamps, indexes). */
  def hexToLong(s: String): Long = java.lang.Long.parseLong(strip(s), 16)

  /** 0x-hex quantity → decimal string, full U256 range — the storage
    * contract for money/gas columns (TEXT, `init.sql:18-20,34-38`). */
  def hexToDec(s: String): String = new java.math.BigInteger(strip(s), 16).toString

  def longToHex(n: Long): String = "0x" + java.lang.Long.toHexString(n)

  def decToHex(s: String): String = "0x" + new java.math.BigInteger(s).toString(16)

  private def strip(s: String): String = {
    val t = s.trim
    val body = if (t.startsWith("0x") || t.startsWith("0X")) t.substring(2) else t
    if (body.isEmpty) "0" else body
  }
}
