package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{EvmApi, LookupCache}
import graft.ingest.{ChainStore, SimChain, StreamingIngester}

/** The store factories' in-memory tail of the two newest buckets: a
  * lookup there runs no Spark job, and every answer equals a fresh
  * scan's, through appends, reorgs and compactions. */
class HotTailSpec extends AnyFunSuite with SparkSpec {

  private def ingest(store: ChainStore, blocks: Seq[SimChain.SimBlock]): Unit = {
    import spark.implicits._
    StreamingIngester.processBatch(store, blocks.toDF())
  }

  private val UnknownHash = "0x" + "cd" * 32

  test("a tail height, block hash or tx hash runs zero Spark jobs; a key below the tail one") {
    val root = Files.createTempDirectory("hottail-jobs").toString
    val store = new ChainStore(spark, root, 10)
    val chain = SimChain.canonical(45) // buckets 0..4: the tail holds heights 30..44
    ingest(store, chain)
    val p = EvmApi.providerOnStore(store)
    assert(p().hotTail.isDefined, "the factory builds the tail")
    val jobs = new JobCounter(spark)
    def jobsOf[T](lookup: => T): (T, Int) = {
      val j0 = jobs.settle()
      val answer = lookup
      (answer, jobs.settle() - j0)
    }
    spark.sparkContext.addSparkListener(jobs)
    try {
      val (byHeight, j1) = jobsOf(p().block("41"))
      assert(byHeight.map(_.blockHash).contains(chain(41).block_hash) && j1 == 0,
        s"a tail height ran $j1 Spark jobs")
      val (byHash, j2) = jobsOf(p().block(chain(30).block_hash))
      assert(byHash.map(_.blockNumber).contains(30L) && j2 == 0, s"a tail block hash ran $j2 Spark jobs")
      val tx = chain(44).transactions.last
      val (byTx, j3) = jobsOf(p().transaction(tx.tx_hash))
      assert(byTx.map(_.txHash).contains(tx.tx_hash) && j3 == 0, s"a tail tx hash ran $j3 Spark jobs")
      val (aboveTip, j4) = jobsOf(p().block("45"))
      assert(aboveTip.isEmpty && j4 == 0, s"a height above the tip ran $j4 Spark jobs")

      val (below, j5) = jobsOf(p().block("29"))
      assert(below.map(_.blockHash).contains(chain(29).block_hash) && j5 == 1,
        s"a height below the tail ran $j5 Spark jobs")
      val old = chain(12).transactions.head
      val (oldTx, j6) = jobsOf(p().transaction(old.tx_hash))
      assert(oldTx.map(_.blockNumber).contains(12L) && j6 == 1, s"a tx below the tail ran $j6 Spark jobs")
      val (unknown, j7) = jobsOf(p().block(UnknownHash))
      assert(unknown.isEmpty && j7 == 1, s"an unknown hash ran $j7 Spark jobs")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("a store without the writer lock serves its tail with zero Spark jobs and answers the writer's next batch") {
    val root = Files.createTempDirectory("hottail-reader").toString
    val writer = new ChainStore(spark, root, 10)
    val chain = SimChain.canonical(50)
    ingest(writer, chain.take(45))
    val reader = new ChainStore(spark, root, 10)
    val cache = new LookupCache(version = () => reader.mutationCount)
    val p = EvmApi.providerOnStore(reader, cache)
    assert(p().hotTail.isDefined, "a reader-only store gets a tail")
    val jobs = new JobCounter(spark)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val j0 = jobs.settle()
      assert(p().block("41").map(_.blockHash).contains(chain(41).block_hash))
      assert(p().block(chain(30).block_hash).map(_.blockNumber).contains(30L))
      val tx = chain(44).transactions.last
      assert(p().transaction(tx.tx_hash).map(_.txHash).contains(tx.tx_hash))
      assert(p().block("47").isEmpty, "a height above the tip is a miss")
      val ran = jobs.settle() - j0
      assert(ran == 0, s"the reader's tail keys ran $ran Spark jobs")
    } finally spark.sparkContext.removeSparkListener(jobs)
    ingest(writer, chain.drop(45))
    val misses = cache.misses
    assert(p().block("47").map(_.blockHash).contains(chain(47).block_hash),
      "the reader's next call must answer the new tip, not the cached 404")
    assert(cache.misses == misses + 1, "the pre-commit entry must not hit")
    assert(p().stats().blocksCount == 50)
  }

  test("property: over random extend, fork and compact walks, the provider answers like a fresh scan") {
    val bucket = 5L
    val root = Files.createTempDirectory("hottail-walk").toString
    val store = new ChainStore(spark, root, bucket)
    val p = EvmApi.providerOnStore(store)
    val rnd = new scala.util.Random(11)
    // the stored chain is `blockOn(_, forkAt)` up to `tip`
    var forkAt: Option[Long] = None
    var tip = 21L
    def onChain(n: Long) = SimChain.blockOn(n, forkAt)
    ingest(store, (0L to tip).map(onChain))

    // Spark's own read of the store's live files: a file a commit
    // dropped stays on disk for older readers until its grace period
    def raw(t: String): DataFrame =
      spark.read.option("basePath", s"$root/$t").parquet(store.liveFiles(t): _*)
    def check(step: String): Unit = {
      val api = p()
      // no cache, no tail, frames listed afresh: the plain scan
      val fresh = new EvmApi(raw("blocks"), raw("transactions"), raw("logs"))
      val tail = api.hotTail.getOrElse(fail(s"$step: no tail was built"))
      val lowest = store.snapshot.buckets("blocks").takeRight(2).head * bucket
      assert(tail.blockCount <= 2 * bucket && tail.blockCount == tip - lowest + 1,
        s"$step: the tail holds ${tail.blockCount} blocks for heights $lowest..$tip")
      assert(tail.txCount == (lowest to tip).map(onChain(_).transactions.size).sum,
        s"$step: the tail holds ${tail.txCount} txs")
      val heights = Seq(tip, lowest, lowest - 1, rnd.nextLong(lowest.max(1)), tip + 1).filter(_ >= 0)
      val blockIds = heights.map(_.toString) ++ heights.filter(_ <= tip).map(onChain(_).block_hash) ++
        // the main chain's hash at a tail height is a dead branch's after a fork
        Seq(SimChain.blockOn(tip, None).block_hash, UnknownHash)
      blockIds.foreach { id =>
        val want = fresh.block(id)
        assert(api.block(id) == want, s"$step: /block/$id")
        if (!id.startsWith("0x") && id.toLong <= tip) assert(want.isDefined, s"$step: stored height $id")
      }
      val txIds = heights.filter(_ <= tip).map(h => onChain(h).transactions.last.tx_hash) :+ UnknownHash
      txIds.foreach { id =>
        assert(api.transaction(id) == fresh.transaction(id), s"$step: /transaction/$id")
      }
    }

    check("initial")
    val steps = (1 to 10).map { i =>
      val canFork = forkAt.forall(_ > 1)
      val step = rnd.nextInt(4) match {
        case 2 if canFork =>
          // fork below the current fork point, to a chain that may end
          // below the old tip
          val hi = forkAt.map(_ - 1).getOrElse(tip).min(tip)
          val f = (hi - rnd.nextInt(8)).max(1)
          tip = f + rnd.nextInt(12)
          forkAt = Some(f)
          ingest(store, SimChain.forked(f, tip + 1))
          s"step $i: fork at $f to $tip"
        case 3 =>
          store.Tables.foreach(store.compact)
          s"step $i: compact"
        case _ =>
          val from = tip + 1
          tip += 1 + rnd.nextInt(8)
          ingest(store, (from to tip).map(onChain))
          s"step $i: extend to $tip"
      }
      check(step)
      step
    }
    Seq("fork", "compact", "extend").foreach(k => assert(steps.exists(_.contains(k)), steps))
  }
}
