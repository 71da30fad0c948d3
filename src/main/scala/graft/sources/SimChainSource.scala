package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{AtomicMoveNotSupportedException, Files, Paths, StandardCopyOption}
import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.ingest.SimChain

/** DataSourceV2 micro-batch source over the simulated chain — the
  * Spark-native re-expression of the reference's polling RPC client
  * (`src/main.rs:64-164`):
  *
  *  - I-2 chain-head discovery → [[ChainMicroBatchStream.latestOffset]]
  *    reads the "node state" (a head file: `<head> <forkAt|->`)
  *  - I-4 batch bounding       → latestOffset clamps to
  *    `committed + blocksPerBatch` (BLOCKS_PER_BATCH=5 analog)
  *  - I-3 block+txs fetch      → one [[InputPartition]] per task slot's
  *    run of heights; the partition reader materializes
  *    the full nested envelopes through the [[ChainFetcher]] seam
  *    (every block+txs of the run, then every receipt)
  *  - I-6 parallel fan-out     → each reader fetches through a
  *    [[FetchPool]] of `receiptConcurrency` threads (the reference's
  *    `buffer_unordered(10)`), and partitions execute concurrently
  *  - I-5 retry + backoff      → [[ChainFetch.retry]] retries a
  *    (deterministically injected) flaky fetch 3× with exponential
  *    backoff (`src/main.rs:28-29,49,153-155`)
  *
  * Every batch re-serves a `reorgLookback` window of already-committed
  * blocks (default 6 — a finality-depth analog). Offsets in the engine
  * WAL are monotonic, so a source cannot rewind after a reorg; the
  * lookback guarantees any fork within the window arrives *inside* a
  * batch, where the ingester's same-height divergence check rolls back
  * and replaces it in one cycle. (The reference instead re-fetches
  * after rollback, which only heals 1-block-deep reorgs —
  * `src/main.rs:166-189` deletes the stored parent and then skips the
  * check when it is absent.) The re-served blocks dedup away in the
  * idempotent append.
  *
  * A reorg deeper than the lookback window leaves a hole the ingester
  * cannot refill from the batch; it records the fork height in the
  * store's repair marker (`ChainStore.writeRepairFrom`) and the
  * `repairFile` option lets this source honor it: the next batch's
  * re-serve window extends down to the marked height, so the hole is
  * re-ingested and the marker cleared — the reference's
  * refetch-after-rollback (`src/main.rs:166-189`) generalized to any
  * depth. Offsets in the WAL stay monotonic; only the served window
  * widens.
  *
  * I-14 error isolation: heights in `missingBlocks` fetch as absent
  * and are skipped (`src/main.rs:134-139`); heights in
  * `receiptlessBlocks` have no receipts on the node, tolerated as
  * `status=null` with no logs (`src/main.rs:219-221,250-253`).
  *
  * Options: `headFile` (required), `startBlock` (default 0),
  * `blocksPerBatch` (default 5), `reorgLookback` (default 6),
  * `flakyEveryN` (0 = reliable), `repairFile` (optional marker path),
  * `missingBlocks` / `receiptlessBlocks` (comma-separated heights),
  * plus the retry dials shared with the RPC source (`maxRetries`,
  * `baseBackoffMs`, `receiptConcurrency`).
  *
  * Usage: `spark.readStream.format("graft-simchain")
  *   .option("headFile", path).load()`
  *
  * The same pipeline runs against a REAL node wire via
  * [[RpcChainSourceProvider]] (`format("graft-rpcchain")`) — only the
  * [[FetcherConf]] differs.
  */
class SimChainSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-simchain"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SimChainSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChainSourceTable(properties, new SimChainMicroBatchStream(_))
}

object SimChainSource {
  lazy val schema: StructType =
    ExpressionEncoder[SimChain.SimBlock]().schema

  /** Node state: "<head> <forkAt|->" — head is the highest available
    * block; forkAt marks where the chain reorged onto the fork branch. */
  def readHeadFile(path: String): (Long, Option[Long]) = {
    val parts = new String(Files.readAllBytes(Paths.get(path)),
      StandardCharsets.UTF_8).trim.split("\\s+")
    val fork = if (parts.length > 1 && parts(1) != "-") Some(parts(1).toLong) else None
    (parts(0).toLong, fork)
  }

  /** Atomic temp-write + rename: [[ChainMicroBatchStream.latestOffset]]
    * polls and parses this file on every trigger, so a plain
    * truncate-then-write races the poll — a torn read (empty file
    * mid-truncate) throws in latestOffset and kills the whole
    * streaming query. Rename is atomic on POSIX, so a reader sees the
    * old head or the new one, never a partial file. */
  def writeHeadFile(path: String, head: Long, forkAt: Option[Long]): Unit = {
    val p = Paths.get(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp,
      s"$head ${forkAt.map(_.toString).getOrElse("-")}".getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Shared DSv2 table shell: both chain sources serve the same envelope
  * schema and differ only in which [[ChainMicroBatchStream]] they build. */
class ChainSourceTable(properties: util.Map[String, String],
                       mkStream: CaseInsensitiveStringMap => ChainMicroBatchStream)
    extends Table with SupportsRead {
  override def name(): String = "chain_envelopes"
  override def schema(): StructType = SimChainSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = SimChainSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        mkStream(options)
    }
}

/** Offset = exclusive upper block number already planned. */
case class BlockOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** The chain-agnostic half of the micro-batch stream: offset WAL
  * monotonicity, batch bounding, the reorg-lookback re-serve window,
  * and the deep-reorg repair widening. Subclasses supply only the two
  * node-facing pieces — head discovery and the per-batch
  * [[FetcherConf]] snapshot (one consistent chain view per batch). */
abstract class ChainMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream {
  protected val startBlock: Long = options.getLong("startBlock", 0L)
  protected val blocksPerBatch: Long = options.getLong("blocksPerBatch", 5L)
  protected val reorgLookback: Long = options.getLong("reorgLookback", 6L)
  protected val repairFile: Option[String] = Option(options.get("repairFile"))
  // retry policy: the reference's 3 attempts; test-friendly ms backoff
  // where the reference uses BASE_BLOCK_FETCH_BACKOFF_SECONDS = 2
  protected val maxRetries: Int = options.getLong("maxRetries", 3L).toInt
  protected val baseBackoffMs: Long = options.getLong("baseBackoffMs", 10L)
  // MAX_RECEIPT_CONCURRENT = 10 (src/main.rs:26)
  protected val receiptConcurrency: Int = options.getLong("receiptConcurrency", 10L).toInt
  /** `receipts` (default) = the reference's N+1 per-tx receipt fan-out;
    * `range` = one `eth_getLogs` per block range + per-block status
    * (`eth_getBlockReceipts`, with per-tx fallback) — the
    * highest-impact optimization the reference names (`README.md:90`). */
  protected val fetchStrategy: String =
    Option(options.get("fetchStrategy")).getOrElse("receipts")
  require(fetchStrategy == "receipts" || fetchStrategy == "range",
    s"fetchStrategy must be 'receipts' or 'range', got '$fetchStrategy'")
  /** Blocks per `eth_getLogs` call (range strategy only). Also the
    * partition granularity in range mode — the parallelism/batching
    * trade: a bigger range is fewer RPCs but coarser executor fan-out
    * and a larger node-side scan per call (public endpoints commonly
    * cap it; 2k-10k blocks is typical for production nodes). */
  protected val logRangeSize: Long =
    math.max(1L, options.getLong("logRangeSize", blocksPerBatch))

  /** I-2: the node's current highest block. */
  protected def chainHead(): Long
  /** Snapshot of everything a partition needs to fetch consistently. */
  protected def fetcherConf(): FetcherConf

  /** Deep-reorg repair marker left by the ingester (see class doc) —
    * the serve-from height, parsed by the marker format's single owner
    * ([[graft.ingest.ChainStore.parseRepairMarker]]). */
  private def repairFrom(): Option[Long] =
    repairFile.filter(f => Files.exists(Paths.get(f))).flatMap { f =>
      graft.ingest.ChainStore.parseRepairMarker(
        new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)).map(_._1)
    }

  /** Exclusive end of the last planned batch. The clamp must advance
    * with *planned* work, not with the asynchronous commit callback —
    * otherwise processAllAvailable observes a stale bound and stops
    * after one batch. */
  @volatile private var planned: Long = startBlock

  override def initialOffset(): Offset = BlockOffset(startBlock)

  override def deserializeOffset(json: String): Offset = {
    val n = json.toLong
    planned = math.max(planned, n)
    BlockOffset(n)
  }

  /** I-2 head discovery + I-4 bounding: never plan more than
    * blocksPerBatch past the last planned batch (`src/main.rs:113-114`). */
  override def latestOffset(): Offset = {
    val head = chainHead()
    BlockOffset(math.max(planned, math.min(head + 1, planned + blocksPerBatch)))
  }

  /** I-3/I-6: contiguous runs of heights, fetched concurrently — on
    * the receipt path one run per task slot (⌈heights ÷
    * `defaultParallelism`⌉ each), so a batch runs as one wave of tasks
    * while each run's [[FetchPool]] still bounds its calls in flight;
    * `logRangeSize` heights per run on the range path. The fetcher conf
    * is snapshotted at planning time so every partition of the batch
    * sees one consistent chain view. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val conf = fetcherConf()
    val s0 = math.max(0L, start.asInstanceOf[BlockOffset].n - reorgLookback)
    // widen (never narrow) the re-serve window down to a pending
    // deep-reorg repair marker; the extra blocks dedup in the store
    val s = repairFrom().filter(_ < s0).getOrElse(s0)
    val e = end.asInstanceOf[BlockOffset].n
    planned = math.max(planned, e)
    val range = fetchStrategy == "range"
    val slots = SparkSession.active.sparkContext.defaultParallelism
    val step = if (range) logRangeSize else math.max(1L, (e - s + slots - 1) / slots)
    (s until e by step).map(r0 => ChainRunPartition(r0, math.min(r0 + step, e) - 1,
      range, conf, maxRetries, baseBackoffMs, receiptConcurrency): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new ChainEnvelopeReader(partition.asInstanceOf[ChainRunPartition])
    }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Sim-chain stream: head + fork state live in the head file. */
class SimChainMicroBatchStream(options: CaseInsensitiveStringMap)
    extends ChainMicroBatchStream(options) {
  private val headFile = options.get("headFile")
  require(headFile != null, "graft-simchain requires option headFile")
  private val flakyEveryN = options.getLong("flakyEveryN", 0L)
  private def heightSet(key: String): Set[Long] =
    Option(options.get(key)).map(_.split(",").filter(_.nonEmpty).map(_.trim.toLong).toSet)
      .getOrElse(Set.empty)
  private val missingBlocks = heightSet("missingBlocks")
  private val receiptlessBlocks = heightSet("receiptlessBlocks")

  override protected def chainHead(): Long =
    SimChainSource.readHeadFile(headFile)._1

  override protected def fetcherConf(): FetcherConf = {
    val (_, forkAt) = SimChainSource.readHeadFile(headFile)
    SimFetcherConf(forkAt, flakyEveryN, missingBlocks, receiptlessBlocks,
      noBlockReceipts = options.getBoolean("noBlockReceipts", false),
      rangeNoise = options.getBoolean("rangeNoise", false),
      counterKey = Option(options.get("counterKey")),
      // race-reorg injection through the STREAMING path: each partition
      // reader's fetcher races independently (per-fetcher counters), so
      // a range window longer than raceAfterBlockCalls sees the branch
      // flip mid-window — the e2e form of RangeFetchSpec's fallback
      // scenarios
      raceForkAt = Option(options.get("raceForkAt")).map(_.toLong),
      raceAfterBlockCalls = options.getLong("raceAfterBlockCalls", 0L),
      raceAfterLogsCall = options.getBoolean("raceAfterLogsCall", false))
  }
}

/** One partition: the heights `[from, to]` (inclusive), fetched by
  * the range strategy (one `eth_getLogs` for the run + per-block
  * status) when `range`, else by the N+1 receipt path. */
case class ChainRunPartition(from: Long, to: Long, range: Boolean, conf: FetcherConf,
                             maxRetries: Int, baseBackoffMs: Long,
                             receiptConcurrency: Int) extends InputPartition

/** Fetches a partition's run of envelopes through the [[ChainFetcher]]
  * seam with the reference's retry policy (3 attempts, exponential
  * backoff — `src/main.rs:126-159`), over one [[FetchPool]] of
  * `receiptConcurrency` threads, and serves them one row at a time in
  * height order; absent heights emit nothing (I-14). `close()` — which
  * Spark also runs when it kills the task — stops the pool. */
class ChainEnvelopeReader(p: ChainRunPartition)
    extends PartitionReader[InternalRow] {
  private val serializer = ExpressionEncoder[SimChain.SimBlock]().createSerializer()
  private val fetcher = p.conf.open()
  private val pool = new FetchPool(p.receiptConcurrency)
  private var it: Iterator[SimChain.SimBlock] = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (it == null)
      it = (if (p.range)
        ChainFetch.rangeEnvelopes(pool, fetcher, p.from, p.to, p.maxRetries, p.baseBackoffMs)
      else
        ChainFetch.envelopes(pool, fetcher, p.from, p.to, p.maxRetries, p.baseBackoffMs)).iterator
    if (it.hasNext) { current = serializer(it.next()).copy(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = try pool.close() finally fetcher.close()
}

/** In-process fetcher over the deterministic [[SimChain]].
  *
  * The "RPC failure" is injected deterministically for blocks where
  * `n % flakyEveryN == 0`: the fetcher's first blockWithTxs attempt at
  * that height throws, the retry succeeds — exercising the real retry
  * path on every such block. Attempts count per fetcher, and each
  * partition reader opens its own, so every run of heights sees each
  * such height fail once, like a transient network fault.
  *
  * Receipts resolve from an index of the blocks this fetcher has
  * served — the stand-in for a real node's tx-hash index. A height in
  * `receiptless` indexes nothing, so its receipts come back None. */
case class SimFetcherConf(forkAt: Option[Long], flakyEveryN: Long,
                          missing: Set[Long], receiptless: Set[Long],
                          noBlockReceipts: Boolean = false,
                          rangeNoise: Boolean = false,
                          counterKey: Option[String] = None,
                          // race-reorg injection: the node's branch flips to
                          // fork@raceForkAt after `raceAfterBlockCalls`
                          // block fetches have been served (and/or after the
                          // first logsInRange call) — the mid-window reorg
                          // the range strategy's stability check must catch
                          raceForkAt: Option[Long] = None,
                          raceAfterBlockCalls: Long = 0L,
                          raceAfterLogsCall: Boolean = false,
                          // eth_getBlockReceipts that ERRORS on every call
                          // (not the clean method-absent None) — must fall
                          // back to per-tx statuses, not sink the partition
                          brokenBlockReceipts: Boolean = false) extends FetcherConf {
  override def open(): ChainFetcher = new SimFetcher(this)
}

/** Per-method RPC call counters, shared across every [[SimFetcher]]
  * opened under the same `counterKey` (partition readers live in one
  * JVM under local[*]) — the measurement a spec needs to assert the
  * range strategy's O(ranges + blocks) call complexity against the
  * N+1 path's O(blocks + txs). */
object SimFetcherCounters {
  private val counters =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.util.concurrent.atomic.AtomicLong]()
  private[sources] def bump(key: Option[String], method: String): Unit =
    key.foreach { k =>
      counters.computeIfAbsent((k, method),
        _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet(): Unit
    }
  def get(key: String, method: String): Long =
    Option(counters.get((key, method))).map(_.get()).getOrElse(0L)
  def reset(key: String): Unit =
    counters.keySet().removeIf(_._1 == key): Unit
}

class SimFetcher(conf: SimFetcherConf) extends ChainFetcher {
  private val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  private val receiptIndex =
    new java.util.concurrent.ConcurrentHashMap[String, WireReceipt]()
  private val servedBlockCalls = new java.util.concurrent.atomic.AtomicLong()
  private val servedLogsCalls = new java.util.concurrent.atomic.AtomicLong()

  /** The branch this node is on RIGHT NOW: the pre-race branch until
    * the injected reorg trigger fires, the race fork after. */
  private def branch: Option[Long] =
    if (conf.raceForkAt.isDefined &&
        ((conf.raceAfterBlockCalls > 0 &&
          servedBlockCalls.get() >= conf.raceAfterBlockCalls) ||
         (conf.raceAfterLogsCall && servedLogsCalls.get() >= 1)))
      conf.raceForkAt
    else conf.forkAt

  override def blockNumber(): Long =
    throw new UnsupportedOperationException(
      "sim head discovery reads the head file on the driver") // never a partition's job

  override def blockWithTxs(n: Long): Option[WireBlock] = {
    SimFetcherCounters.bump(conf.counterKey, "blockWithTxs")
    val attempt = attempts.merge(n, 1, (a, b) => a + b)
    if (conf.flakyEveryN > 0 && n % conf.flakyEveryN == 0 && attempt == 1)
      throw new RuntimeException(s"injected RPC failure for block $n")
    val onBranch = branch
    servedBlockCalls.incrementAndGet(): Unit
    if (conf.missing(n)) None
    else {
      val b = SimChain.blockOn(n, onBranch)
      if (!conf.receiptless(n)) b.transactions.foreach { t =>
        receiptIndex.put(t.tx_hash, WireReceipt(t.status, t.logs.map(l =>
          WireLog(l.log_index_in_tx, l.contract_address,
            Seq(l.topic0) ++ l.topic1 ++ l.topic2 ++ l.topic3, l.data))))
      }
      Some(WireBlock(b.block_number, b.block_hash, b.parent_hash, b.timestamp,
        b.transactions.map(t => WireTx(t.tx_hash, t.tx_index_in_block,
          t.from_address, t.to_address, t.value, t.gas_used))))
    }
  }

  override def transactionReceipt(txHash: String): Option[WireReceipt] = {
    SimFetcherCounters.bump(conf.counterKey, "transactionReceipt")
    Option(receiptIndex.get(txHash))
  }

  /** The node-side view of `eth_getLogs` over the sim chain: logs of
    * every present, receipt-bearing block in `[from, to]`, with
    * BLOCK-level `logIndex` (cumulative across the block's txs — the
    * real wire's numbering, which [[ChainFetch.rangeEnvelopes]] must
    * re-align to the envelope's per-tx indexes).
    *
    * `rangeNoise` emulates the hazards the reference's README warns
    * the range strategy must dedup/align away: every log is served
    * TWICE (overlapping-chunk duplicates), a `removed=true` copy is
    * appended, and a stale branch's logs (block hashes that match no
    * live block) ride along — all of it must vanish in alignment. */
  override def logsInRange(from: Long, to: Long): Seq[WireRangeLog] = {
    SimFetcherCounters.bump(conf.counterKey, "logsInRange")
    val onBranch = branch
    servedLogsCalls.incrementAndGet(): Unit
    val real = (from to to).filterNot(n => conf.missing(n) || conf.receiptless(n))
      .flatMap(n => blockRangeLogs(SimChain.blockOn(n, onBranch)))
    if (!conf.rangeNoise) real
    else {
      val stale = (from to to).filterNot(conf.missing)
        .flatMap(n => blockRangeLogs(SimChain.blockAt(n, "stale", "0x00")))
      real ++ real ++ real.take(3).map(_.copy(removed = true)) ++ stale
    }
  }

  private def blockRangeLogs(b: SimChain.SimBlock): Seq[WireRangeLog] = {
    var blockIdx = -1L
    b.transactions.sortBy(_.tx_index_in_block).flatMap { t =>
      t.logs.sortBy(_.log_index_in_tx).map { l =>
        blockIdx += 1
        WireRangeLog(b.block_number, b.block_hash, t.tx_hash, blockIdx,
          l.contract_address,
          Seq(l.topic0) ++ l.topic1 ++ l.topic2 ++ l.topic3, l.data)
      }
    }
  }

  /** `eth_getBlockReceipts` status view: a receiptless height answers
    * with an empty map (block known, no receipts → status=null
    * downstream); `noBlockReceipts` emulates a node without the
    * method, forcing the per-tx status fallback. */
  override def blockReceiptStatuses(n: Long): Option[Map[String, Option[Long]]] = {
    if (conf.noBlockReceipts) return None
    if (conf.brokenBlockReceipts)
      throw new RuntimeException("injected eth_getBlockReceipts failure")
    SimFetcherCounters.bump(conf.counterKey, "blockReceiptStatuses")
    if (conf.missing(n) || conf.receiptless(n)) Some(Map.empty)
    else Some(SimChain.blockOn(n, branch).transactions
      .map(t => t.tx_hash -> t.status).toMap)
  }
}
