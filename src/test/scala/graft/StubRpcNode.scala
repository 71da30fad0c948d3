package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.ingest.SimChain
import graft.sources.{ChainFetch, SimChainSource}

/** Loopback JSON-RPC "node" serving the deterministic [[SimChain]] in
  * real Ethereum wire shapes — zero egress, but the bytes on the
  * socket are exactly what a production endpoint sends, so
  * [[graft.sources.JsonRpcFetcher]] is exercised end to end
  * (hex-quantity parsing, tx/receipt field mapping, `result: null`
  * absence, HTTP + RPC-error retry classification).
  *
  * Chain state comes from the same head file the sim source uses
  * (`<head> <forkAt|->`), so tests drive head advances and reorgs with
  * [[SimChainSource.writeHeadFile]] identically for both sources.
  *
  * Fault injection:
  *  - `flakyBlockEveryN`: the FIRST `eth_getBlockByNumber` for a
  *    height divisible by N gets HTTP 500 — the transport-error retry
  *    path (`src/main.rs:140-158`).
  *  - `flakyReceiptBlocks`: the first receipt request for each tx of
  *    those heights gets a JSON-RPC error member — the
  *    `fetch_receipt_with_retry` path (`src/main.rs:32-62`).
  *  - heights in `missingBlocks` answer `result: null` (skip path);
  *    heights in `receiptlessBlocks` answer `result: null` for every
  *    receipt (status=null + no logs downstream).
  *  - `upperCaseHashes`: every block, parent, tx and log hash goes out
  *    as upper-case hex after the `0x` (the wire allows either case),
  *    and receipt requests match a tx hash in any case, as a node's
  *    hex parser does.
  *
  * Load shape: every call sleeps `callDelayMs` before answering (0 =
  * answer at once), standing in for network and node time, and
  * [[peakInFlight]] reports the most calls the node was answering at
  * once — the concurrency a client actually put on the wire.
  *
  * Receipts resolve through a tx-hash index built as blocks are served
  * (the stand-in for a real node's global tx index); the ingester
  * always fetches a block before its receipts, so the index is
  * populated in time.
  */
class StubRpcNode(headFile: String,
                  flakyBlockEveryN: Long = 0L,
                  flakyReceiptBlocks: Set[Long] = Set.empty,
                  missingBlocks: Set[Long] = Set.empty,
                  receiptlessBlocks: Set[Long] = Set.empty,
                  supportsBlockReceipts: Boolean = true,
                  callDelayMs: Long = 0L,
                  upperCaseHashes: Boolean = false) extends AutoCloseable {

  private val mapper = new ObjectMapper()
  private val blockAttempts = new ConcurrentHashMap[Long, Integer]()
  private val receiptAttempts = new ConcurrentHashMap[String, Integer]()
  // txHash -> (height, receipt JSON) — height kept for fault injection
  private val txIndex = new ConcurrentHashMap[String, (Long, String)]()
  // AtomicLong, not a @volatile var: handlers run on a 16-thread
  // executor and volatile read-modify-write loses increments
  private val served = new java.util.concurrent.atomic.AtomicLong()
  private val perMethod = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  // in-flight and peak in-flight calls, per method and under "*" for all
  private val inFlight = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  private val peak = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  private def gauge(m: ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger],
                    key: String) =
    m.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicInteger())

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val req = mapper.readTree(ex.getRequestBody)
      val id = req.get("id").asLong()
      val method = req.get("method").asText()
      val params = req.get("params")
      served.incrementAndGet(): Unit
      perMethod.computeIfAbsent(method,
        _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet(): Unit
      Seq("*", method).foreach { k =>
        val now = gauge(inFlight, k).incrementAndGet()
        gauge(peak, k).accumulateAndGet(now, math.max): Unit
      }
      try {
        if (callDelayMs > 0) Thread.sleep(callDelayMs)
        answer(ex, id, method, params)
      } finally Seq("*", method).foreach(k => gauge(inFlight, k).decrementAndGet(): Unit)
    }
  })
  // more handler threads than any spec puts calls in flight, so the
  // peak gauge sees the client's concurrency, not this pool's size
  private val handlers = java.util.concurrent.Executors.newFixedThreadPool(64)
  server.setExecutor(handlers)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def callsServed: Long = served.get()
  def callsServed(method: String): Long =
    Option(perMethod.get(method)).map(_.get()).getOrElse(0L)
  /** Most calls (of `method`, or of any method) answered at once. */
  def peakInFlight: Int = gauge(peak, "*").get()
  def peakInFlight(method: String): Int = gauge(peak, method).get()

  override def close(): Unit = {
    server.stop(0)
    handlers.shutdownNow(): Unit
  }

  private def answer(ex: HttpExchange, id: Long, method: String,
                     params: com.fasterxml.jackson.databind.JsonNode): Unit =
    method match {
      case "eth_blockNumber" =>
        val (head, _) = SimChainSource.readHeadFile(headFile)
        respond(ex, result(id, "\"" + ChainFetch.longToHex(head) + "\""))
      case "eth_getBlockByNumber" =>
        val n = ChainFetch.hexToLong(params.get(0).asText())
        if (flakyBlockEveryN > 0 && n % flakyBlockEveryN == 0 &&
            blockAttempts.merge(n, 1, (a, b) => a + b) == 1)
          respondCode(ex, 500, """{"error":"injected transport failure"}""")
        else {
          val (head, forkAt) = SimChainSource.readHeadFile(headFile)
          if (n > head || missingBlocks(n)) respond(ex, result(id, "null"))
          else respond(ex, result(id, blockJson(n, forkAt)))
        }
      case "eth_getTransactionReceipt" =>
        val h = params.get(0).asText().toLowerCase
        txIndex.get(h) match {
          case null => respond(ex, result(id, "null"))
          case (height, _) if flakyReceiptBlocks(height) &&
              receiptAttempts.merge(h, 1, (a, b) => a + b) == 1 =>
            respond(ex,
              s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32000,"message":"injected receipt failure"}}""")
          case (height, receipt) =>
            if (receiptlessBlocks(height)) respond(ex, result(id, "null"))
            else respond(ex, result(id, receipt))
        }
      case "eth_getLogs" =>
        val filter = params.get(0)
        val from = ChainFetch.hexToLong(filter.get("fromBlock").asText())
        val to = ChainFetch.hexToLong(filter.get("toBlock").asText())
        val (head, forkAt) = SimChainSource.readHeadFile(headFile)
        val logs = (from to math.min(to, head))
          .filterNot(n => missingBlocks(n) || receiptlessBlocks(n))
          .flatMap(n => rangeLogsJson(n, forkAt))
        respond(ex, result(id, logs.mkString("[", ",", "]")))
      case "eth_getBlockReceipts" if supportsBlockReceipts =>
        val n = ChainFetch.hexToLong(params.get(0).asText())
        val (head, forkAt) = SimChainSource.readHeadFile(headFile)
        if (n > head || missingBlocks(n) || receiptlessBlocks(n))
          respond(ex, result(id, "null"))
        else {
          val rcs = SimChain.blockOn(n, forkAt).transactions.map { t =>
            val status = t.status.map(s => q(ChainFetch.longToHex(s))).getOrElse("null")
            s"""{"transactionHash":${q(hash(t.tx_hash))},"status":$status}"""
          }
          respond(ex, result(id, rcs.mkString("[", ",", "]")))
        }
      case other =>
        respond(ex,
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"unknown method $other"}}""")
    }

  private def result(id: Long, res: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"result":$res}"""

  private def respond(ex: HttpExchange, body: String): Unit = respondCode(ex, 200, body)

  private def respondCode(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  private def q(s: String) = "\"" + s + "\""

  private def hash(h: String) = if (upperCaseHashes) "0x" + h.drop(2).toUpperCase else h

  /** Wire-encode one sim block the way eth_getBlockByNumber(full_tx)
    * does: quantities as 0x-hex (number, timestamp, value, gas,
    * transactionIndex), hashes/addresses as 0x-hex strings. Receipts
    * are indexed here but served only via eth_getTransactionReceipt. */
  private def blockJson(n: Long, forkAt: Option[Long]): String = {
    val b = SimChain.blockOn(n, forkAt)
    val txs = b.transactions.map { t =>
      txIndex.put(t.tx_hash, (n, receiptJson(t)))
      s"""{"hash":${q(hash(t.tx_hash))},"transactionIndex":${q(ChainFetch.longToHex(t.tx_index_in_block))},""" +
        s""""from":${q(t.from_address)},"to":${q(t.to_address)},""" +
        s""""value":${q(ChainFetch.decToHex(t.value))},"gas":${q(ChainFetch.decToHex(t.gas_used))}}"""
    }.mkString("[", ",", "]")
    s"""{"number":${q(ChainFetch.longToHex(b.block_number))},"hash":${q(hash(b.block_hash))},""" +
      s""""parentHash":${q(hash(b.parent_hash))},"timestamp":${q(ChainFetch.longToHex(b.timestamp))},""" +
      s""""transactions":$txs}"""
  }

  /** Wire-encode one block's logs the way `eth_getLogs` does: each log
    * carries its block context (blockNumber/blockHash/transactionHash)
    * and a BLOCK-level `logIndex` — cumulative across the block's txs,
    * NOT the per-tx index receipts use. The fetcher's alignment has to
    * undo exactly this numbering. */
  private def rangeLogsJson(n: Long, forkAt: Option[Long]): Seq[String] = {
    val b = SimChain.blockOn(n, forkAt)
    var blockIdx = -1L
    b.transactions.flatMap { t =>
      t.logs.map { l =>
        blockIdx += 1
        val topics = (Seq(l.topic0) ++ l.topic1 ++ l.topic2 ++ l.topic3)
          .map(q).mkString("[", ",", "]")
        s"""{"blockNumber":${q(ChainFetch.longToHex(n))},"blockHash":${q(hash(b.block_hash))},""" +
          s""""transactionHash":${q(hash(t.tx_hash))},"logIndex":${q(ChainFetch.longToHex(blockIdx))},""" +
          s""""address":${q(l.contract_address)},"topics":$topics,"data":${q(l.data)},"removed":false}"""
      }
    }
  }

  private def receiptJson(t: SimChain.SimTx): String = {
    val logs = t.logs.map { l =>
      val topics = (Seq(l.topic0) ++ l.topic1 ++ l.topic2 ++ l.topic3)
        .map(q).mkString("[", ",", "]")
      s"""{"logIndex":${q(ChainFetch.longToHex(l.log_index_in_tx))},""" +
        s""""address":${q(l.contract_address)},"topics":$topics,"data":${q(l.data)}}"""
    }.mkString("[", ",", "]")
    val status = t.status.map(s => q(ChainFetch.longToHex(s))).getOrElse("null")
    s"""{"status":$status,"gasUsed":${q(ChainFetch.decToHex(t.gas_used))},"logs":$logs}"""
  }
}
