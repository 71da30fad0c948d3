package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{EvmApi, GetLogsFilter}
import graft.evm.EvmDerive
import graft.ingest.{ChainStore, SimChain, StreamingIngester}

/** The typed four-endpoint facade over both table sources: the derived
  * fixture tables and an ingested ChainStore — a reference user's
  * complete serving surface. */
class EvmApiSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("fixtures facade: stats, block by number/hash, tx, logs page agree") {
    val api = EvmApi.onFixtures(spark, sfDir)

    val st = api.stats()
    assert(st.blocksCount > 0 && st.transactionsCount > 0 && st.logsCount > 0)
    assert(st.ingestionLag.contains(3L))

    val byNumber = api.block("42").get
    assert(byNumber.blockNumber == 42L)
    val byHash = api.block(byNumber.blockHash.toUpperCase.replace("0X", "0x")).get
    assert(byHash == byNumber)
    assert(api.block("0xnothex").isEmpty)
    assert(api.block("999999999").isEmpty)

    val tx = api.transaction(EvmDerive.txHashOf(3)).get
    assert(tx.blockNumber == 0L || tx.blockNumber > 0L)
    assert(tx.value.endsWith("000000000000000000"))
    // the fee/index/calldata fields ride through the typed facade:
    // tx 3 = event 6 (6 % 4 != 0 → EIP-1559: fee caps set, no legacy
    // gasPrice), index 3 % 5 = 3, gas as decimal strings
    assert(tx.txIndexInBlock.contains(3L))
    assert(tx.gasPrice.isEmpty)
    assert(tx.maxFeePerGas.exists(_.endsWith("000000000")))
    assert(tx.maxPriorityFeePerGas.exists(_.endsWith("000000000")))
    assert(tx.gasUsed.exists(_.forall(_.isDigit)) && tx.gasLimit.contains("30000000"))
    assert(tx.inputData.exists(_.startsWith("0x")))
    // tx 2 = event 4 (4 % 4 == 0): legacy, gasPrice populated
    assert(api.transaction(EvmDerive.txHashOf(2)).get.gasPrice
      .exists(_.endsWith("000000000")))
    // block gas contract: decimal strings + nullable base fee present
    assert(byNumber.gasUsed.contains("147000") &&
      byNumber.baseFeePerGas.contains("5200000000"))
    assert(api.transaction("short").isEmpty)

    val page = api.logsPage(GetLogsFilter(fromBlock = Some(0), toBlock = Some(3),
      pageSize = Some(10)))
    assert(page.logs.length == 10)
    assert(page.nextCursorBlock.isDefined && page.nextCursorLogId.isDefined)
  }

  test("repeated point lookups are memoized: identical result, zero Spark jobs on the repeat") {
    val cache = new graft.api.LookupCache()
    val api = new EvmApi(EvmDerive.blocks(spark, sfDir),
      EvmDerive.transactions(spark, sfDir), EvmDerive.logs(spark, sfDir),
      Some(cache))
    val first = api.block("42")
    assert(first.isDefined && cache.misses == 1 && cache.hits == 0)
    // job-count proof: run the repeat inside its own job group — a
    // memoized answer must launch NOTHING there
    spark.sparkContext.setJobGroup("lookup-repeat", "repeat probe")
    val again = try api.block("42") finally spark.sparkContext.clearJobGroup()
    assert(again == first && cache.hits == 1)
    // status-tracker attribution is async; give it time, then require
    // the repeat group stayed empty
    Thread.sleep(500)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup("lookup-repeat").isEmpty,
      "a memoized repeat must launch zero Spark jobs")
    // hash keys canonicalize: upper/lowercase hit the same entry
    val hash = first.get.blockHash
    assert(api.block(hash) == first)
    assert(api.block(hash.toUpperCase.replace("0X", "0x")).isDefined)
    // negative results memoize too — the 404-for-unmined-hash repeat
    assert(api.block("999999999").isEmpty)
    val missesBefore = cache.misses
    assert(api.block("999999999").isEmpty)
    assert(cache.misses == missesBefore, "a repeated 404 must hit the memo")
  }

  test("memo coherence: hash-vs-number routing is decided on the RAW prefix " +
      "(api.rs:290 — '0X…' is NOT a hash), and a mixed-case BODY shares one entry") {
    val cache = new graft.api.LookupCache()
    val api = new EvmApi(EvmDerive.blocks(spark, sfDir),
      EvmDerive.transactions(spark, sfDir), EvmDerive.logs(spark, sfDir),
      Some(cache))
    val hash = api.block("42").get.blockHash
    // the reference checks starts_with("0x") BEFORE any case-fold, so
    // an upper-cased prefix never routes as a hash (REST 400s it; here
    // it falls to the number parse and misses) — folding first would
    // silently resolve it, a behavioral divergence
    assert(api.block("0X" + hash.drop(2).toUpperCase).isEmpty,
      "'0X'-prefixed identifier must NOT resolve as a hash (reference rejects it)")
    // the poisoning order for ACCEPTED identifiers: mixed-case body
    // FIRST. It resolves (the body case-folds), and the entry it
    // caches is the valid answer — a subsequent lowercase lookup must
    // be served that same answer from the same key, not a stale miss.
    val upperBody = api.block("0x" + hash.drop(2).toUpperCase)
    assert(upperBody.isDefined, "'0x' + upper-case body must resolve")
    val hitsBefore = cache.hits
    val lower = api.block(hash)
    assert(lower == upperBody, "lowercase lookup must serve the shared entry's answer")
    assert(cache.hits == hitsBefore + 1, "both spellings must share ONE memo key")
    // same contract on the tx endpoint
    val txHash = EvmDerive.txHashOf(3)
    assert(api.transaction("0X" + txHash.drop(2).toUpperCase).isEmpty,
      "'0X' tx hash must be rejected on the raw prefix (api.rs:342-346)")
    val upTx = api.transaction("0x" + txHash.drop(2).toUpperCase)
    assert(upTx.isDefined && api.transaction(txHash) == upTx)
  }

  test("single-flight: a thundering herd on one cold key runs ONE compute; " +
      "followers share the leader's answer") {
    val cache = new graft.api.LookupCache()
    val computes = new java.util.concurrent.atomic.AtomicInteger()
    val entered = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 8).map { _ =>
      val t = new Thread(() => {
        val r = cache.getOrCompute("k", "hot", at = 0L) {
          computes.incrementAndGet()
          entered.countDown()
          proceed.await() // hold the flight open until all herd members arrive
          42
        }
        results.add(r)
      })
      t.start(); t
    }
    entered.await() // leader is inside compute
    Thread.sleep(200) // followers reach the in-flight join
    proceed.countDown()
    threads.foreach(_.join())
    assert(computes.get() == 1,
      s"herd must coalesce onto one compute, ran ${computes.get()}")
    assert(results.size == 8 && results.asScala.forall(_ == 42))
    assert(cache.misses == 1 && cache.hits + cache.coalesced == 7)
  }

  test("store-backed provider: memo shared across request facades, invalidated by a reorg") {
    import spark.implicits._
    val store = new ChainStore(spark, Files.createTempDirectory("apicache").toString, 10)
    StreamingIngester.processBatch(store, SimChain.canonical(12).toDF())
    val cache = new graft.api.LookupCache(version = () => store.mutationCount)
    val p = EvmApi.providerOnStore(store, cache)
    val before = p().block("8").get
    assert(before.blockHash == SimChain.blockOn(8, None).block_hash)
    // a FRESH facade instance (new request) must still hit the memo
    assert(p().block("8").get == before && cache.hits == 1)
    // a reorg CHANGES the answer at height 8: the rollback and the
    // append each commit a manifest version, so the stale entry must
    // not serve
    val vBefore = store.mutationCount
    StreamingIngester.processBatch(store, SimChain.forked(6, 13).toDF())
    assert(store.mutationCount > vBefore, "the reorg must move the store's version")
    val after = p().block("8").get
    assert(after.blockHash == SimChain.blockOn(8, Some(6L)).block_hash,
      "post-reorg lookups must see the fork branch")
    assert(after != before, "the memo must not have served the dead branch")
  }

  test("an answer computed from frames a commit has since replaced is not served as the newer version's") {
    import spark.implicits._
    val store = new ChainStore(spark, Files.createTempDirectory("apirace").toString, 10)
    StreamingIngester.processBatch(store, SimChain.canonical(12).toDF())
    // the first version read lands a commit: after the facade resolved
    // its frames, before its memo reads the version
    val committed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cache = new graft.api.LookupCache(version = () => {
      if (committed.compareAndSet(false, true))
        StreamingIngester.processBatch(store, SimChain.canonical(15).toDF())
      store.mutationCount
    })
    val p = EvmApi.providerOnStore(store, cache)
    assert(p().block("13").isEmpty, "the facade answers as of the version it resolved")
    assert(committed.get, "the lookup read the version")
    assert(p().block("13").map(_.blockHash).contains(SimChain.blockOn(13, None).block_hash),
      "the next provider call must answer the committed block, not the cached 404")
  }

  test("every facade reads its three tables at one version while batches land") {
    import spark.implicits._
    val store = new ChainStore(spark, Files.createTempDirectory("apisnapshot").toString, 10)
    StreamingIngester.processBatch(store, SimChain.canonical(5).toDF())
    val p = EvmApi.providerOnStore(store)
    val landed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() =>
      try (5L until 45L by 5L).foreach(n =>
        StreamingIngester.processBatch(store, SimChain.blocks(n, n + 5).toDF()))
      finally landed.set(true))
    writer.start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    try while (!landed.get) {
      val st = p().stats()
      seen += ((st.blocksCount, st.transactionsCount, st.logsCount))
    } finally writer.join()
    val txs = SimChain.canonical(45).map(_.transactions)
    seen.foreach { case (b, t, l) =>
      val prefix = txs.take(b.toInt)
      assert((t, l) == ((prefix.map(_.size).sum.toLong, prefix.map(_.map(_.logs.size).sum).sum.toLong)),
        s"a facade over $b blocks counted $t transactions and $l logs")
    }
    assert(seen.map(_._1).distinct.size > 1, s"no read overlapped a commit: ${seen.map(_._1).distinct}")
    assert(p().stats().blocksCount == 45)
  }

  test("store facade: same endpoints serve an ingested chain") {
    import spark.implicits._
    val store = new ChainStore(spark, Files.createTempDirectory("apistore").toString, 10)
    StreamingIngester.processBatch(store, SimChain.canonical(12).toDF())
    val api = EvmApi.onStore(store).get

    val st = api.stats()
    assert(st.blocksCount == 12)

    val b5 = api.block("5").get
    assert(b5.blockNumber == 5 && b5.parentHash == api.block("4").get.blockHash)
    // columns the sim chain doesn't carry surface as None, not errors
    assert(b5.miner.isEmpty && b5.txCount.isEmpty)

    val someTx = SimChain.canonical(12)(3).transactions.head
    val tx = api.transaction(someTx.tx_hash).get
    assert(tx.blockNumber == 3 && tx.status == someTx.status)
    assert(tx.gasLimit.isEmpty && tx.nonce.isEmpty)

    val page = api.logsPage(GetLogsFilter(fromBlock = Some(0), toBlock = Some(11),
      pageSize = Some(100)))
    assert(page.logs.nonEmpty)
    assert(page.logs.map(_.getAs[Long]("id")).toSeq ==
      page.logs.map(_.getAs[Long]("id")).toSeq.sorted)
  }

  test("a cold hash lookup past 32 buckets runs one Spark job and reads under a tenth of its table") {
    import spark.implicits._
    // 33 buckets of 400 blocks: each file is large beside the few KB a
    // lookup reads to rule it out (its footer and key bloom filter)
    val root = Files.createTempDirectory("apiprune").toString
    val store = new ChainStore(spark, root, bucketSize = 400)
    val chain = SimChain.canonical(13200)
    StreamingIngester.processBatch(store, chain.toDF())
    val api = EvmApi.onStore(store).get // builds the hot tail: two jobs
    def tableBytes(t: String): Long =
      new java.io.File(root, t).listFiles().filter(_.getName.startsWith("bucket="))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val jobs = new JobCounter(spark)
    // task bytesRead counts the footer and bloom filter reads but not
    // parquet's vectored (asynchronous) column chunk reads, so the rows
    // the scan returns are counted too
    val bytesRead, rowsRead = new java.util.concurrent.atomic.AtomicLong()
    val reads = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytesRead.addAndGet(m.inputMetrics.bytesRead)
          rowsRead.addAndGet(m.inputMetrics.recordsRead)
        }
    }
    /** (answer, Spark jobs, bytes read, rows read) of one call. */
    def measured[T](lookup: => T): (T, Int, Long, Long) = {
      val (j0, b0, r0) = (jobs.settle(), bytesRead.get, rowsRead.get)
      val answer = lookup
      (answer, jobs.settle() - j0, bytesRead.get - b0, rowsRead.get - r0)
    }
    def mixedCase(h: String) = h.take(34) + h.drop(34).toUpperCase
    val block = chain(6600)
    val tx = block.transactions.head
    Seq(jobs, reads).foreach(spark.sparkContext.addSparkListener)
    val ((t, tJobs, tBytes, tRows), (b, bJobs, bBytes, bRows)) =
      try (measured(api.transaction(mixedCase(tx.tx_hash))),
           measured(api.block(mixedCase(block.block_hash))))
      finally Seq(jobs, reads).foreach(spark.sparkContext.removeSparkListener)
    assert(t.map(_.txHash).contains(tx.tx_hash) && b.map(_.blockNumber).contains(block.block_number))
    assert(tJobs == 1 && bJobs == 1, s"tx lookup ran $tJobs Spark jobs, block lookup $bJobs")
    val txRows = chain.map(_.transactions.size).sum
    assert(tRows < txRows / 10, s"tx lookup read $tRows of $txRows rows")
    assert(bRows < chain.size / 10, s"block lookup read $bRows of ${chain.size} rows")
    assert(tBytes < tableBytes("transactions") / 10,
      s"tx lookup read $tBytes of ${tableBytes("transactions")} bytes")
    assert(bBytes < tableBytes("blocks") / 10,
      s"block lookup read $bBytes of ${tableBytes("blocks")} bytes")
  }

  test("a warm provider call over an unchanged store runs zero Spark jobs; an append is seen next call") {
    import spark.implicits._
    val store = new ChainStore(spark, Files.createTempDirectory("apiwarm").toString, 10)
    StreamingIngester.processBatch(store, SimChain.canonical(12).toDF())
    val p = EvmApi.providerOnStore(store)
    assert(p().stats().blocksCount == 12) // resolves the three frames
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    try {
      val before = c.settle()
      p()
      val jobs = c.settle() - before
      assert(jobs == 0, s"a warm provider call ran $jobs Spark jobs (listing or schema reads)")
    } finally spark.sparkContext.removeSparkListener(c)
    StreamingIngester.processBatch(store, SimChain.canonical(15).toDF())
    val api = p()
    assert(api.stats().blocksCount == 15, "the next call must see the appended rows")
    assert(api.block("14").map(_.blockHash).contains(SimChain.blockOn(14, None).block_hash))
  }
}
