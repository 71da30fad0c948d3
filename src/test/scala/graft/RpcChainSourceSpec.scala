package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{ChainStore, SimChain, StreamingIngester}
import graft.sources.{ChainFetch, FetchPool, RpcFetcherConf, SimChainSource}

/** The SimChainSourceSpec e2e, re-run over the REAL wire: a loopback
  * JSON-RPC stub node ([[StubRpcNode]]) serves the same deterministic
  * chain in Ethereum wire encodings, and `graft-rpcchain` ingests it
  * through `eth_blockNumber` / `eth_getBlockByNumber(full_tx)` /
  * `eth_getTransactionReceipt` with the reference's retry + receipt
  * fan-out (`src/main.rs:32-62,96-227`). Every guarantee the sim spec
  * pins (bounded batches, fork recovery, missing-block skip,
  * receiptless tolerance) must hold unchanged — only the transport
  * differs.
  */
class RpcChainSourceSpec extends AnyFunSuite with SparkSpec {

  test("fetcher round-trips wire encodings exactly (hex quantities → decimal-string U256)") {
    val headFile = Files.createTempFile("rpc-head-rt", ".txt").toString
    SimChainSource.writeHeadFile(headFile, 8, None)
    val node = new StubRpcNode(headFile)
    try {
      val f = RpcFetcherConf(node.url).open()
      try {
        assert(f.blockNumber() == 8L)
        // envelope assembled over the wire == envelope computed in-process
        (0L to 8L).foreach { n =>
          val wire = ChainFetch.envelope(f, n, maxRetries = 3,
            baseBackoffMs = 5, receiptConcurrency = 10)
          assert(wire.contains(SimChain.blockOn(n, None)),
            s"block $n must survive the hex round-trip bit-for-bit")
        }
        // past the head: result null → None (skip path, never a retry)
        assert(ChainFetch.envelope(f, 99L, 3, 5, 10).isEmpty)
      } finally f.close()
    } finally node.close()
  }

  /** A node that answers every call with the next canned RAW body —
    * the adversarial-input seam [[StubRpcNode]] (which always encodes
    * honestly) cannot provide. */
  private final class RawRpcStub(bodies: String*) extends AutoCloseable {
    private val queue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    bodies.foreach(queue.add)
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      val body = Option(queue.poll()).getOrElse("""{"jsonrpc":"2.0","id":1,"result":null}""")
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      try ex.getResponseBody.write(bytes) finally ex.close()
    })
    server.start()
    val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    override def close(): Unit = server.stop(0)
  }

  private def fuzzCall[T](bodies: Seq[String])(op: graft.sources.ChainFetcher => T): T = {
    val node = new RawRpcStub(bodies: _*)
    try {
      val f = RpcFetcherConf(node.url).open()
      try op(f) finally f.close()
    } finally node.close()
  }

  test("wire fuzz: truncated / wrong-typed / member-less responses throw the retryable category — never parse as zeros") {
    import java.io.IOException
    // truncated JSON mid-object → parse error (an IOException subclass)
    intercept[IOException] {
      fuzzCall(Seq("""{"jsonrpc":"2.0","id":1,"res"""))(_.blockNumber())
    }
    // a response with NEITHER result NOR error: malformed, must throw —
    // not read as the legitimate result:null absence signal
    intercept[IOException] {
      fuzzCall(Seq("""{"jsonrpc":"2.0","id":1}"""))(_.blockWithTxs(0L))
    }
    // wrong-typed quantity (object where a hex string belongs): asText
    // would render "" and hexToLong would read 0 — a silently corrupted
    // block number. Must throw instead.
    intercept[IOException] {
      fuzzCall(Seq("""{"jsonrpc":"2.0","id":1,"result":{}}"""))(_.blockNumber())
    }
    intercept[IOException] {
      fuzzCall(Seq(
        """{"jsonrpc":"2.0","id":1,"result":{"number":{},"hash":"0xabc","parentHash":"0xdef","timestamp":"0x1","transactions":[]}}"""
      ))(_.blockWithTxs(0L))
    }
    // wrong-typed OPTIONAL field (receipt.status as an array): present
    // but malformed must throw, while absent stays the legal None
    intercept[IOException] {
      fuzzCall(Seq(
        """{"jsonrpc":"2.0","id":1,"result":{"status":[1],"logs":[]}}"""
      ))(_.transactionReceipt("0x" + "a" * 64))
    }
    val preByzantium = fuzzCall(Seq(
      """{"jsonrpc":"2.0","id":1,"result":{"logs":[]}}"""
    ))(_.transactionReceipt("0x" + "a" * 64))
    assert(preByzantium.exists(_.status.isEmpty),
      "a receipt without a status member is the legal pre-Byzantium shape")
    // numeric instead of hex-string quantity: Ethereum's wire is
    // strings-only — a number here is a lying node, not a dialect
    intercept[IOException] {
      fuzzCall(Seq("""{"jsonrpc":"2.0","id":1,"result":12345}"""))(_.blockNumber())
    }
    // and a legal result still parses right after all that hardening
    assert(fuzzCall(Seq("""{"jsonrpc":"2.0","id":1,"result":"0x10"}"""))(_.blockNumber()) == 16L)
  }

  test("range-log alignment fuzz: duplicate logIndex and cross-height hash collisions cannot corrupt envelopes") {
    import graft.sources.{WireRangeLog, SimFetcherConf}
    // build the honest envelopes for [0,3], then replay rangeEnvelopes
    // against a fetcher whose logsInRange is adversarially decorated
    val clean = {
      val f = SimFetcherConf(None, 0L, Set.empty, Set.empty).open()
      try ChainFetch.rangeEnvelopes(f, 0L, 3L, 3, 1, 10) finally f.close()
    }
    final class EvilFetcher extends graft.sources.ChainFetcher {
      private val inner = SimFetcherConf(None, 0L, Set.empty, Set.empty).open()
      override def blockNumber(): Long = inner.blockNumber()
      override def blockWithTxs(n: Long) = inner.blockWithTxs(n)
      override def transactionReceipt(h: String) = inner.transactionReceipt(h)
      override def blockReceiptStatuses(n: Long) = inner.blockReceiptStatuses(n)
      override def logsInRange(from: Long, to: Long): Seq[WireRangeLog] = {
        val real = inner.logsInRange(from, to)
        val b3 = SimChain.blockOn(3L, None)
        val victimTx = b3.transactions.head.tx_hash
        // (a) duplicate logIndex with CONFLICTING payload: the honest
        //     copy arrives first, the forgery second — dedup must keep
        //     the first, deterministically
        val forged = real.filter(l => l.blockNumber == 3L && l.txHash == victimTx)
          .map(_.copy(address = "0xforged", data = "0xevil"))
        // (b) cross-height hash collision: block 1's logs re-served
        //     claiming block 3's HASH at height 1 — without the height
        //     in the alignment key these would merge into block 3's
        //     envelope through its (hash, tx) key
        val collided = real.filter(_.blockNumber == 1L)
          .map(l => l.copy(blockHash = b3.block_hash, txHash = victimTx))
        real ++ forged ++ collided
      }
      override def close(): Unit = inner.close()
    }
    val evil = new EvilFetcher
    val got = try ChainFetch.rangeEnvelopes(evil, 0L, 3L, 3, 1, 10) finally evil.close()
    assert(got == clean,
      "forged duplicates and cross-height hash collisions must vanish in alignment")
  }

  test("streaming e2e over the RPC wire: bounded batches, block+receipt retries, fork recovery") {
    val headFile = Files.createTempFile("rpc-head", ".txt").toString
    SimChainSource.writeHeadFile(headFile, 9, None)
    // every 4th block's first fetch gets HTTP 500; every receipt of
    // heights 2 and 6 fails once with a JSON-RPC error member
    val node = new StubRpcNode(headFile, flakyBlockEveryN = 4,
      flakyReceiptBlocks = Set(2L, 6L))
    val storeDir = Files.createTempDirectory("rpc-store").toString
    val store = new ChainStore(spark, storeDir, bucketSize = 10)
    val checkpoint = Files.createTempDirectory("rpc-ckpt").toString

    val envelopes = spark.readStream.format("graft-rpcchain")
      .option("rpcUrl", node.url)
      .option("blocksPerBatch", 5)
      .option("baseBackoffMs", 5)
      .load()
    val query = StreamingIngester.start(envelopes, store, checkpoint,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try {
      query.processAllAvailable()
      assert(store.lastSyncedBlock.contains(9L))
      // retried heights landed whole — including receipts of 2 and 6
      val txs = store.read("transactions").get
      assert(txs.filter(col("block_number").isin(2L, 6L))
        .filter(col("status").isNull).count() == 0,
        "receipt retry must recover the injected first-attempt failures")

      // head advance discovered over eth_blockNumber
      SimChainSource.writeHeadFile(headFile, 14, None)
      query.processAllAvailable()
      assert(store.lastSyncedBlock.contains(14L))

      // reorg at height 12: the node switches to the fork branch
      SimChainSource.writeHeadFile(headFile, 16, Some(12L))
      query.processAllAvailable()
      assert(store.lastSyncedBlock.contains(16L))
      val byHeight = store.read("blocks").get
        .select("block_number", "block_hash", "parent_hash")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
      assert(byHeight.size == 17, s"expected 17 canonical blocks, got ${byHeight.size}")
      (1L to 16L).foreach { h =>
        assert(byHeight(h)._2 == byHeight(h - 1)._1, s"chain must link at $h")
      }
      assert(byHeight(12L)._1 == SimChain.blockOn(12, Some(12L)).block_hash,
        "post-fork heights must carry the fork branch")

      // the U256 TEXT columns round-tripped hex → decimal string
      // (re-read: the earlier DataFrame's file index predates bucket 1)
      val v = store.read("transactions").get
        .filter(col("block_number") === 14L && col("tx_index_in_block") === 0L)
        .select("value", "gas_used").collect().head
      assert(v.getString(0) == "15000000000000000000" && v.getString(1) == "21000")
      assert(node.callsServed > 0)
    } finally {
      query.stop()
      node.close()
    }
  }

  test("I-14 over the wire: result-null blocks skipped, receiptless heights land as status=null") {
    val headFile = Files.createTempFile("rpc-head-i14", ".txt").toString
    SimChainSource.writeHeadFile(headFile, 14, None)
    val node = new StubRpcNode(headFile, missingBlocks = Set(3L, 7L),
      receiptlessBlocks = Set(5L, 9L))
    val storeDir = Files.createTempDirectory("rpc-store-i14").toString
    val store = new ChainStore(spark, storeDir, bucketSize = 10)
    val checkpoint = Files.createTempDirectory("rpc-ckpt-i14").toString

    val envelopes = spark.readStream.format("graft-rpcchain")
      .option("rpcUrl", node.url)
      .option("blocksPerBatch", 5)
      .option("baseBackoffMs", 5)
      .load()
    val query = StreamingIngester.start(envelopes, store, checkpoint,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try {
      query.processAllAvailable()
      val heights = store.read("blocks").get
        .select("block_number").collect().map(_.getLong(0)).toSet
      assert(heights == (0L to 14L).toSet -- Set(3L, 7L),
        s"expected holes exactly at 3 and 7, got ${(0L to 14L).toSet -- heights}")
      val txs = store.read("transactions").get
      assert(txs.filter(col("block_number").isin(5L, 9L))
        .filter(col("status").isNotNull).count() == 0)
      assert(store.read("logs").get
        .filter(col("block_number").isin(5L, 9L)).count() == 0)
      assert(txs.filter(!col("block_number").isin(5L, 9L))
        .filter(col("status").isNull).count() == 0)
    } finally {
      query.stop()
      node.close()
    }
  }

  /** Name-sorted projection, so tables whose files carry different
    * column orders compare equal row for row. */
  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq.map(col)
    df.select(cols: _*).orderBy(cols: _*).collect().map(_.toString).toIndexedSeq
  }

  test("a 40-block batch puts more calls in flight than task slots, at most partitions × receiptConcurrency") {
    val headFile = Files.createTempFile("rpc-head-conc", ".txt").toString
    SimChainSource.writeHeadFile(headFile, 39, None)
    val node = new StubRpcNode(headFile, callDelayMs = 50)
    val store = new ChainStore(spark,
      Files.createTempDirectory("rpc-store-conc").toString, bucketSize = 10)
    val checkpoint = Files.createTempDirectory("rpc-ckpt-conc").toString
    val receiptConcurrency = 10
    val envelopes = spark.readStream.format("graft-rpcchain")
      .option("rpcUrl", node.url)
      .option("blocksPerBatch", 40)
      .option("receiptConcurrency", receiptConcurrency)
      .option("baseBackoffMs", 5)
      .load()
    val query = StreamingIngester.start(envelopes, store, checkpoint,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try query.processAllAvailable() finally {
      query.stop()
      node.close()
    }
    // heights 0-39 in one batch: 4 partitions of 10 heights
    val partitions = 40 / receiptConcurrency
    val slots = spark.sparkContext.defaultParallelism
    assert(node.peakInFlight("eth_getBlockByNumber") > slots,
      s"block calls must not be capped at one per task slot ($slots): " +
        s"peak ${node.peakInFlight("eth_getBlockByNumber")}")
    assert(node.peakInFlight <= partitions * receiptConcurrency,
      s"peak ${node.peakInFlight} calls in flight > $partitions partitions × $receiptConcurrency")

    val want = new ChainStore(spark,
      Files.createTempDirectory("rpc-store-conc-want").toString, bucketSize = 10)
    import spark.implicits._
    StreamingIngester.processBatch(want, (0L to 39L).map(SimChain.blockOn(_, None)).toDF())
    for (table <- Seq("blocks", "transactions", "logs"))
      assert(sortedRows(store.read(table).get) == sortedRows(want.read(table).get),
        s"table $table must equal the chain")
  }

  test("hashes a node sends in upper case are stored lowercase and found by a mixed-case identifier") {
    val headFile = Files.createTempFile("rpc-head-case", ".txt").toString
    SimChainSource.writeHeadFile(headFile, 11, None)
    val node = new StubRpcNode(headFile, upperCaseHashes = true)
    val store = new ChainStore(spark,
      Files.createTempDirectory("rpc-store-case").toString, bucketSize = 4)
    val checkpoint = Files.createTempDirectory("rpc-ckpt-case").toString
    val chain = SimChain.canonical(12)
    try {
      // the receipt path: block, parent and tx hashes
      val f = RpcFetcherConf(node.url).open()
      try chain.foreach(b => assert(ChainFetch.envelope(f, b.block_number, 3, 5, 10).contains(b)))
      finally f.close()
      // the range path adds the log and block-receipt hash fields
      val envelopes = spark.readStream.format("graft-rpcchain")
        .option("rpcUrl", node.url)
        .option("fetchStrategy", "range")
        .option("blocksPerBatch", 6)
        .option("baseBackoffMs", 5)
        .load()
      val query = StreamingIngester.start(envelopes, store, checkpoint,
        trigger = Trigger.ProcessingTime("50 milliseconds"))
      try query.processAllAvailable() finally query.stop()
    } finally node.close()
    assert(store.lastSyncedBlock.contains(11L))
    for ((table, cols) <- Seq("blocks" -> Seq("block_hash", "parent_hash"),
                              "transactions" -> Seq("tx_hash", "block_hash"),
                              "logs" -> Seq("block_hash", "transaction_hash")); c <- cols) {
      val hashes = store.read(table).get.select(c).collect().map(_.getString(0))
      assert(hashes.nonEmpty && hashes.forall(h => h == h.toLowerCase), s"$table.$c holds upper-case hex")
    }
    val api = graft.api.EvmApi.onStore(store).get
    def mixedCase(h: String) = h.take(34) + h.drop(34).toUpperCase
    val tx = chain.flatMap(_.transactions).last
    assert(api.block(mixedCase(chain(7).block_hash)).map(_.blockNumber).contains(7L))
    assert(api.transaction(mixedCase(tx.tx_hash)).map(_.txHash).contains(tx.tx_hash))
  }

  test("stopping the query mid-fetch leaves no fetch-pool thread alive") {
    import scala.jdk.CollectionConverters._
    def fetchThreads: Set[String] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(FetchPool.ThreadPrefix)).map(_.getName).toSet
    def await(limitMs: Long)(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + limitMs
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
      cond
    }
    val headFile = Files.createTempFile("rpc-head-stop", ".txt").toString
    SimChainSource.writeHeadFile(headFile, 39, None)
    // slow enough that the stop lands while blocks are still in flight
    val node = new StubRpcNode(headFile, callDelayMs = 400)
    val store = new ChainStore(spark,
      Files.createTempDirectory("rpc-store-stop").toString, bucketSize = 10)
    val checkpoint = Files.createTempDirectory("rpc-ckpt-stop").toString
    val envelopes = spark.readStream.format("graft-rpcchain")
      .option("rpcUrl", node.url)
      .option("blocksPerBatch", 40)
      .option("baseBackoffMs", 5)
      .load()
    val query = StreamingIngester.start(envelopes, store, checkpoint,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try {
      assert(await(60000)(node.callsServed("eth_getBlockByNumber") > 0),
        "the batch never started fetching")
      assert(fetchThreads.nonEmpty, "sanity: the fetch pools are alive mid-fetch")
      query.stop()
      assert(await(10000)(fetchThreads.isEmpty),
        s"fetch threads still alive after stop: $fetchThreads")
      assert(store.lastSyncedBlock.isEmpty, "sanity: the stop landed before the batch committed")
    } finally {
      query.stop()
      node.close()
    }
  }
}
