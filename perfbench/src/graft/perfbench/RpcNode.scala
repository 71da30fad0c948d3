package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.LongAdder
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.ingest.SimChain
import graft.sources.ChainFetch.{decToHex, hexToLong, longToHex}

/** Loopback JSON-RPC node serving [[Chain]] up to height `head` in
  * Ethereum wire shapes: `eth_blockNumber`, `eth_getBlockByNumber`,
  * `eth_getTransactionReceipt`, `eth_getLogs` and
  * `eth_getBlockReceipts`.
  *
  * Every call sleeps `delayMs` before answering, standing in for the
  * network and node time a real endpoint costs. Calls and busy time
  * are counted per method, and the CPU time the node's threads spend
  * is counted so that it can be left out of the indexer's.
  *
  * Receipts are looked up through a tx-hash index filled as blocks are
  * served, as a real node's global index would be; the ingester always
  * fetches a block before its receipts.
  */
final class RpcNode(head: Long, delayMs: Long, threads: Int) extends AutoCloseable {

  private val mapper = new ObjectMapper()
  private val calls = new ConcurrentHashMap[String, LongAdder]()
  private val busyNs = new LongAdder()
  private val cpu = new LongAdder()
  private val blocksServed = new LongAdder()
  // tx hash -> (height, tx index)
  private val txIndex = new ConcurrentHashMap[String, (Long, Int)]()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val c0 = Main.threadCpuNs()
    try {
      val req = mapper.readTree(ex.getRequestBody)
      val id = req.get("id").asLong()
      val method = req.get("method").asText()
      val params = req.get("params")
      calls.computeIfAbsent(method, _ => new LongAdder).increment()
      if (delayMs > 0) Thread.sleep(delayMs)
      respond(ex, s"""{"jsonrpc":"2.0","id":$id,${answer(method, params)}}""")
    } finally {
      busyNs.add(System.nanoTime() - t0)
      ex.close()
      cpu.add(Main.threadCpuNs() - c0)
    }
  })
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def callCounts: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    calls.forEach((k, v) => b += k -> v.sum())
    b.result()
  }
  def busyMs: Double = busyNs.sum() / 1e6
  def cpuNs: Long = cpu.sum()
  /** Non-null `eth_getBlockByNumber` answers. */
  def blocksFetched: Long = blocksServed.sum()

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
  }

  private def result(res: String) = s""""result":$res"""

  private def answer(method: String, params: com.fasterxml.jackson.databind.JsonNode): String =
    method match {
      case "eth_blockNumber" => result(q(longToHex(head)))
      case "eth_getBlockByNumber" =>
        val n = hexToLong(params.get(0).asText())
        if (n > head) result("null")
        else {
          blocksServed.increment()
          result(blockJson(Chain.block(n)))
        }
      case "eth_getTransactionReceipt" =>
        txIndex.get(params.get(0).asText()) match {
          case null => result("null")
          case (n, t) => result(receiptJson(Chain.block(n).transactions(t)))
        }
      case "eth_getLogs" =>
        val f = params.get(0)
        val from = hexToLong(f.get("fromBlock").asText())
        val to = math.min(hexToLong(f.get("toBlock").asText()), head)
        result((from to to).flatMap(n => rangeLogsJson(Chain.block(n))).mkString("[", ",", "]"))
      case "eth_getBlockReceipts" =>
        val n = hexToLong(params.get(0).asText())
        if (n > head) result("null")
        else result(Chain.block(n).transactions.map { t =>
          s"""{"transactionHash":${q(t.tx_hash)},"status":${status(t)}}"""
        }.mkString("[", ",", "]"))
      case other =>
        s""""error":{"code":-32601,"message":"unknown method $other"}"""
    }

  private def respond(ex: HttpExchange, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def q(s: String) = "\"" + s + "\""
  private def status(t: SimChain.SimTx) = t.status.map(s => q(longToHex(s))).getOrElse("null")

  private def blockJson(b: SimChain.SimBlock): String = {
    val txs = b.transactions.map { t =>
      txIndex.put(t.tx_hash, (b.block_number, t.tx_index_in_block.toInt))
      s"""{"hash":${q(t.tx_hash)},"transactionIndex":${q(longToHex(t.tx_index_in_block))},""" +
        s""""from":${q(t.from_address)},"to":${q(t.to_address)},""" +
        s""""value":${q(decToHex(t.value))},"gas":${q(decToHex(t.gas_used))}}"""
    }.mkString("[", ",", "]")
    s"""{"number":${q(longToHex(b.block_number))},"hash":${q(b.block_hash)},""" +
      s""""parentHash":${q(b.parent_hash)},"timestamp":${q(longToHex(b.timestamp))},""" +
      s""""transactions":$txs}"""
  }

  private def topics(l: SimChain.SimLog): String =
    (Seq(l.topic0) ++ l.topic1 ++ l.topic2 ++ l.topic3).map(q).mkString("[", ",", "]")

  /** `eth_getLogs` numbers logs across the whole block. */
  private def rangeLogsJson(b: SimChain.SimBlock): Seq[String] = {
    var blockIdx = -1L
    b.transactions.flatMap { t =>
      t.logs.map { l =>
        blockIdx += 1
        s"""{"blockNumber":${q(longToHex(b.block_number))},"blockHash":${q(b.block_hash)},""" +
          s""""transactionHash":${q(t.tx_hash)},"logIndex":${q(longToHex(blockIdx))},""" +
          s""""address":${q(l.contract_address)},"topics":${topics(l)},"data":${q(l.data)},"removed":false}"""
      }
    }
  }

  private def receiptJson(t: SimChain.SimTx): String = {
    val logs = t.logs.map { l =>
      s"""{"logIndex":${q(longToHex(l.log_index_in_tx))},""" +
        s""""address":${q(l.contract_address)},"topics":${topics(l)},"data":${q(l.data)}}"""
    }.mkString("[", ",", "]")
    s"""{"status":${status(t)},"gasUsed":${q(decToHex(t.gas_used))},"logs":$logs}"""
  }
}
