package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{ChainStore, Ingest, SimChain, StreamingIngester}

/** Ingest semantics: flatten, idempotency, reorg rollback, streaming
  * end-to-end — the reference's `src/main.rs:166-311` + `src/db.rs:34-50`
  * guarantees, which it asserts but never tests (SURVEY §5). */
class IngestSpec extends AnyFunSuite with SparkSpec {

  private def envelopes(blocks: Seq[SimChain.SimBlock]): DataFrame = {
    import spark.implicits._
    blocks.toDF()
  }

  private def freshStore(bucketSize: Long = 5): (ChainStore, String) = {
    val dir = Files.createTempDirectory("chainstore").toString
    (new ChainStore(spark, dir, bucketSize), dir)
  }

  test("I-7: flatten explodes nested envelopes into consistent tables") {
    val chain = SimChain.canonical(12)
    val (blocks, txs, logs) = Ingest.flatten(envelopes(chain))
    assert(blocks.count() == 12)
    assert(txs.count() == chain.map(_.transactions.size).sum)
    assert(logs.count() == chain.flatMap(_.transactions).map(_.logs.size).sum)
    // denormalized lineage columns present (init.sql:53-55)
    assert(logs.columns.toSet.contains("block_hash") &&
      logs.columns.toSet.contains("transaction_hash"))
  }

  test("Q-20: idempotent re-append is a fixpoint (db.rs:97,136)") {
    val (_, txs, _) = Ingest.flatten(envelopes(SimChain.canonical(10)))
    val once = Ingest.idempotentAppend(txs, txs, Seq("tx_hash"))
    assert(once.count() == txs.count())
    val twice = Ingest.idempotentAppend(once, txs.limit(5), Seq("tx_hash"))
    assert(twice.count() == txs.count())
  }

  test("ChainStore: append batches, checkpoint, replay is exactly-once") {
    val (store, _) = freshStore()
    val chain = SimChain.canonical(20)
    chain.grouped(5).foreach(b => StreamingIngester.processBatch(store, envelopes(b)))
    assert(store.lastSyncedBlock.contains(19L))
    val logsN = store.read("logs").get.count()
    // replay a middle batch (crash-recovery path): nothing duplicates
    StreamingIngester.processBatch(store, envelopes(chain.slice(5, 15)))
    assert(store.read("logs").get.count() == logsN)
    assert(store.read("blocks").get.count() == 20)
  }

  test("Q-21: rollback removes exactly the suffix across all tables (db.rs:34-50)") {
    val (store, _) = freshStore(bucketSize = 4)
    SimChain.canonical(18).grouped(6)
      .foreach(b => StreamingIngester.processBatch(store, envelopes(b)))
    val beforeTx = store.read("transactions").get
      .filter(col("block_number") < 11).count()
    store.rollback(11)
    assert(store.lastSyncedBlock.contains(10L))
    assert(store.read("transactions").get.count() == beforeTx)
    assert(store.read("logs").get
      .filter(col("block_number") >= 11).count() == 0)
    // and the store keeps working after the partition rewrite
    StreamingIngester.processBatch(store, envelopes(SimChain.canonical(18).drop(11)))
    assert(store.lastSyncedBlock.contains(17L))
  }

  test("I-9/I-10: reorg detected via parent hash, fork suffix replaced (main.rs:166-189)") {
    val (store, _) = freshStore()
    SimChain.canonical(15).grouped(5)
      .foreach(b => StreamingIngester.processBatch(store, envelopes(b)))
    val fork = SimChain.forked(10, 18)
    // sanity: fork first block links to canonical block 9 but differs from canonical 10
    assert(store.detectReorg(fork.head.block_number, fork.head.parent_hash).isEmpty)
    assert(store.hashAt(10).get != fork.head.block_hash)
    StreamingIngester.processBatch(store, envelopes(fork))
    // store is strictly canonical: prefix untouched, suffix is the fork chain
    assert(store.lastSyncedBlock.contains(17L))
    val byHeight = store.read("blocks").get
      .select(col("block_number"), col("block_hash"), col("parent_hash"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byHeight.size == 18)
    (1L until 18L).foreach { h =>
      assert(byHeight(h)._2 == byHeight(h - 1)._1,
        s"hash chain must link at height $h after reorg")
    }
  }

  test("streaming e2e: micro-batched ingest with injected fork (I-1..I-12)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (store, _) = freshStore()
    val checkpoint = Files.createTempDirectory("ckpt").toString
    val source = MemoryStream[SimChain.SimBlock]
    val query = StreamingIngester.start(source.toDF(), store, checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"),
      compactEvery = 1L) // maintenance interleaved with live ingest
    try {
      source.addData(SimChain.canonical(8))
      query.processAllAvailable()
      assert(store.lastSyncedBlock.contains(7L))
      source.addData(SimChain.blocks(8, 12))
      query.processAllAvailable()
      assert(store.lastSyncedBlock.contains(11L))
      source.addData(SimChain.forked(6, 10))
      query.processAllAvailable()
      assert(store.lastSyncedBlock.contains(9L))
      assert(store.read("blocks").get.count() == 10)
      assert(store.hashAt(6).get == SimChain.forked(6, 10).head.block_hash)
    } finally query.stop()
  }

  test("compact merges per-batch small files per bucket without changing data") {
    import org.apache.hadoop.fs.Path
    val (store, _) = freshStore(bucketSize = 10)
    val chain = SimChain.canonical(20)
    // 10 appends of 2 blocks → buckets 0 and 1 get 5 files each
    chain.grouped(2).foreach(b => StreamingIngester.processBatch(store, envelopes(b.toSeq)))
    // the store's live files: the ones compaction drops stay on disk
    // for older readers until the grace period has passed
    def filesPerBucket(t: String): Map[String, Int] =
      store.liveFiles(t).groupBy(f => new Path(f).getParent.getName).map { case (b, fs) => b -> fs.size }
    assert(filesPerBucket("logs").values.forall(_ > 1))
    val before = store.read("logs").get.orderBy(col("id")).collect().toSeq
    store.Tables.foreach(store.compact)
    assert(filesPerBucket("logs").values.forall(_ == 1))
    assert(filesPerBucket("blocks").values.forall(_ == 1))
    val after = store.read("logs").get.orderBy(col("id")).collect().toSeq
    assert(after == before)
    // store still serves normally post-compaction
    assert(store.lastSyncedBlock.contains(19L))
    assert(store.hashAt(13).contains(chain(13).block_hash))
  }

  test("compaction and rollback invalidate the frames a writer's read reuses") {
    val (store, _) = freshStore(bucketSize = 10)
    val chain = SimChain.canonical(20)
    // three appends: buckets 0 and 1 each hold two files
    Seq(chain.take(5), chain.slice(5, 15), chain.slice(15, 20))
      .foreach(b => StreamingIngester.processBatch(store, envelopes(b)))
    def rows(t: String) = store.read(t).get.drop("bucket").collect().toSeq.sortBy(_.toString)
    val before = store.Tables.map(t => t -> rows(t)).toMap
    assert(store.read("blocks").get.count() == 20)
    // the swaps delete every file the frames above were resolved over
    store.Tables.foreach(store.compact)
    store.Tables.foreach { t =>
      assert(store.read(t).get.count() == before(t).size, s"$t count after compact")
      assert(rows(t) == before(t), s"$t rows after compact")
    }
    store.rollback(13)
    store.Tables.foreach { t =>
      val heights = store.read(t).get.select("block_number").collect().map(_.getLong(0))
      assert(heights.forall(_ < 13), s"$t after rollback(13)")
      assert(heights.length == before(t).count(_.getAs[Long]("block_number") < 13), s"$t rows kept")
    }
  }

  test("compact visits only buckets touched since the last compaction (O(touched), not O(chain))") {
    import org.apache.hadoop.fs.Path
    val (store, root) = freshStore(bucketSize = 2)
    val chain = SimChain.canonical(104) // 52 buckets of 2 blocks
    chain.grouped(3).foreach(b => StreamingIngester.processBatch(store, envelopes(b.toSeq)))
    store.Tables.foreach(store.compact) // every bucket down to one file
    // the store's live files per bucket: a file compaction drops stays
    // on disk for older readers until the grace period has passed
    def listing(s: ChainStore, t: String): Map[String, Seq[String]] =
      s.liveFiles(t).groupBy(f => new Path(f).getParent.getName)
        .map { case (b, fs) => b -> fs.map(new Path(_).getName).sorted }
    // touch exactly one new bucket (52) with two single-block appends
    SimChain.blocks(104, 106).foreach(b =>
      StreamingIngester.processBatch(store, envelopes(Seq(b))))
    assert(listing(store, "blocks")("bucket=52").size == 2)
    // the manifest names the multi-file bucket: a RESTARTED ingester —
    // fresh ChainStore instance, same root — compacts it without any
    // history of its own
    val freshInstance = new ChainStore(spark, root, bucketSize = 2)
    val before = listing(freshInstance, "blocks")
    freshInstance.compact("blocks")
    val after = listing(freshInstance, "blocks")
    assert(after("bucket=52").size == 1, "the restarted store did not compact the touched bucket")
    // ...and everything the restarted instance did NOT touch must come
    // through byte-identical (same part files, no rewrite)
    (before - "bucket=52").foreach { case (b, files) =>
      assert(after(b) == files, s"untouched bucket $b was rewritten")
    }
    // the pre-restart instance sees the commit and finds nothing to do
    store.compact("blocks")
    assert(listing(store, "blocks") == after, "a compacted bucket was rewritten")
    // a bucket filled after the restart compacts through either instance
    SimChain.blocks(106, 108).foreach(b =>
      StreamingIngester.processBatch(store, envelopes(Seq(b))))
    freshInstance.compact("blocks")
    assert(listing(freshInstance, "blocks")("bucket=53").size == 1)
    // data unharmed end to end
    assert(store.read("blocks").get.count() == 108)
    assert(store.lastSyncedBlock.contains(107L))
  }

  test("property: random extend/fork walk — store stays canonical, linked, exactly-once") {
    import spark.implicits._
    // model-based check of the reference's headline integrity claim
    // ("zero data integrity failures across crash and block-reorg
    // scenarios", README.md:41): drive the ingester with a seeded
    // random sequence of chain extensions and reorgs, mirror them in an
    // in-memory model chain, and require the store to equal the model
    // exactly at every step boundary property that matters.
    val rnd = new scala.util.Random(7)
    val (store, _) = freshStore(bucketSize = 7)
    var model: Vector[SimChain.SimBlock] = SimChain.canonical(6).toVector
    StreamingIngester.processBatch(store, model.toDF())
    var branch = 0
    (1 to 18).foreach { _ =>
      val batch: Seq[SimChain.SimBlock] =
        if (rnd.nextDouble() < 0.35 && model.length > 2) {
          // reorg: fork at a random stored height, new branch wins
          branch += 1
          val h = 1 + rnd.nextInt(model.length - 1)
          val ext = 1 + rnd.nextInt(4)
          val repl = SimChain.blocks(h, model.length + ext, salt = s"b$branch",
            parentOfFirst = Some(model(h - 1).block_hash))
          model = model.take(h) ++ repl
          repl
        } else {
          // extend the current tip
          val k = 1 + rnd.nextInt(5)
          val tip = model.length
          val ext = SimChain.blocks(tip, tip + k,
            salt = if (branch == 0) "main" else s"b$branch",
            parentOfFirst = Some(model.last.block_hash))
          model = model ++ ext
          ext
        }
      StreamingIngester.processBatch(store, batch.toDF())
    }
    // store == model, block for block
    val stored = store.read("blocks").get
      .select(col("block_number"), col("block_hash"), col("parent_hash"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(stored.map(_._1).toSeq == model.indices.map(_.toLong))
    assert(stored.map(_._2).toSeq == model.map(_.block_hash))
    // hash-linked end to end
    stored.sliding(2).foreach { case Array(p, c) => assert(c._3 == p._2); case _ => }
    // children consistent and exactly-once
    val txs = store.read("transactions").get
    assert(txs.count() == model.map(_.transactions.size).sum)
    assert(txs.select(col("tx_hash")).distinct().count() == txs.count())
    val logs = store.read("logs").get
    assert(logs.count() == model.flatMap(_.transactions).map(_.logs.size).sum)
    assert(logs.select(col("id")).distinct().count() == logs.count())
    assert(store.lastSyncedBlock.contains(model.length - 1L))
  }

  test("property: compact interleaved with random extend/fork walks — maintenance never races retraction") {
    import spark.implicits._
    // The deleted-partition + rewrite machinery of rollback and the
    // merge-files + swap machinery of compact share the same bucket
    // directories; this walk pins that no interleaving of the two
    // (compaction after an append the next step retracts, compaction
    // immediately after a rollback's straddling-bucket rewrite, …)
    // ever loses or duplicates a row. Each seeded walk mirrors the
    // chain in an in-memory model and requires store == model at the
    // end. GRAFT_WALKS overrides the walk count (CI default 5 × 20
    // steps; the GRAFT_WALKS=100 evidence run passed green on
    // 2026-08-13, 100 walks × 20 steps, 93 min wall).
    val nWalks = sys.env.get("GRAFT_WALKS").flatMap(_.toIntOption).getOrElse(5)
    (0 until nWalks).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val (store, _) = freshStore(bucketSize = 7)
      var model: Vector[SimChain.SimBlock] = SimChain.canonical(6).toVector
      StreamingIngester.processBatch(store, model.toDF())
      var branch = 0
      (1 to 20).foreach { _ =>
        val batch: Seq[SimChain.SimBlock] =
          if (rnd.nextDouble() < 0.35 && model.length > 2) {
            branch += 1
            val h = 1 + rnd.nextInt(model.length - 1)
            val ext = 1 + rnd.nextInt(4)
            val repl = SimChain.blocks(h, model.length + ext, salt = s"w$seed-b$branch",
              parentOfFirst = Some(model(h - 1).block_hash))
            model = model.take(h) ++ repl
            repl
          } else {
            val k = 1 + rnd.nextInt(5)
            val tip = model.length
            val ext = SimChain.blocks(tip, tip + k,
              salt = if (branch == 0) "main" else s"w$seed-b$branch",
              parentOfFirst = Some(model.last.block_hash))
            model = model ++ ext
            ext
          }
        StreamingIngester.processBatch(store, batch.toDF())
        // maintenance interleaves the walk: sometimes one table,
        // sometimes a full sweep — including right after a rollback
        if (rnd.nextDouble() < 0.4)
          if (rnd.nextBoolean()) store.compact(store.Tables(rnd.nextInt(3)))
          else store.Tables.foreach(store.compact)
      }
      val stored = store.read("blocks").get
        .select(col("block_number"), col("block_hash"), col("parent_hash"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      assert(stored.map(_._1).toSeq == model.indices.map(_.toLong), s"walk $seed: heights")
      assert(stored.map(_._2).toSeq == model.map(_.block_hash), s"walk $seed: hashes")
      stored.sliding(2).foreach { case Array(p, c) =>
        assert(c._3 == p._2, s"walk $seed: link at ${c._1}"); case _ => }
      val txs = store.read("transactions").get
      assert(txs.count() == model.map(_.transactions.size).sum, s"walk $seed: tx count")
      assert(txs.select(col("tx_hash")).distinct().count() == txs.count(), s"walk $seed: tx dup")
      val logs = store.read("logs").get
      assert(logs.count() == model.flatMap(_.transactions).map(_.logs.size).sum,
        s"walk $seed: log count")
      assert(store.lastSyncedBlock.contains(model.length - 1L), s"walk $seed: status")
    }
  }

  test("I-13: queries serve concurrently with live ingest (main.rs:358-374)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (store, _) = freshStore()
    val checkpoint = Files.createTempDirectory("ckpt13").toString
    val source = MemoryStream[SimChain.SimBlock]
    val query = StreamingIngester.start(source.toDF(), store, checkpoint,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
    // the serving side: a reader thread issuing point lookups + stats
    // against the store while the ingester commits batches — the
    // reference's tokio::spawn(ingester) + Axum server sharing one pool
    @volatile var served = 0
    @volatile var failure: Option[Throwable] = None
    val reader = new Thread(() => {
      try {
        while (served < 8) {
          store.read("blocks").foreach { b =>
            val n = b.count()
            val lookedUp = graft.api.Lookups.blockByIdentifier(b, "0").get.collect()
            assert(lookedUp.length <= 1)
            if (n > 0) served += 1
          }
          Thread.sleep(20)
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    try {
      source.addData(SimChain.canonical(5))
      query.processAllAvailable()
      reader.start()
      (5L until 30L by 5).foreach { h =>
        source.addData(SimChain.blocks(h, h + 5))
        query.processAllAvailable()
      }
      reader.join(30000)
      assert(!reader.isAlive, "reader thread starved while ingest ran")
      failure.foreach(throw _)
      assert(served >= 8)
      assert(store.lastSyncedBlock.contains(29L))
    } finally {
      query.stop()
      if (reader.isAlive) reader.interrupt()
    }
  }

  /** Asserts the store holds `chain` exactly once: every height once
    * with its hash and parent (so hash-linked when `chain` is), and
    * exactly the chain's txs and logs at each height. */
  private def assertStoreIs(store: ChainStore, chain: Seq[SimChain.SimBlock], step: String): Unit = {
    val blocks = store.read("blocks").get
      .select(col("block_number"), col("block_hash"), col("parent_hash"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    assert(blocks == chain.map(b => (b.block_number, b.block_hash, b.parent_hash)).sorted,
      s"$step: blocks")
    blocks.sliding(2).foreach { case Seq(p, c) => assert(c._3 == p._2, s"$step: link at ${c._1}"); case _ => }
    def keys(t: String, key: String): Seq[(Long, String)] = store.read(t).toSeq
      .flatMap(_.select(col("block_number"), col(key).cast("string")).collect()
        .map(r => (r.getLong(0), r.getString(1)))).sorted
    assert(keys("transactions", "tx_hash") ==
      chain.flatMap(b => b.transactions.map(t => (b.block_number, t.tx_hash))).sorted, s"$step: txs")
    assert(keys("logs", "id") == chain.flatMap(b => b.transactions.flatMap(t => t.logs.map(l =>
      (b.block_number, (b.block_number * 1000000 + t.tx_index_in_block * 1000 + l.log_index_in_tx).toString))))
      .sorted, s"$step: logs")
  }

  test("an append of a 50-block batch into a store past 32 buckets runs at most 3 Spark jobs") {
    val counter = new JobCounter(spark)
    @volatile var appendJobs = -1
    val root = Files.createTempDirectory("chainstore").toString
    val store = new ChainStore(spark, root, bucketSize = 2) {
      override def append(blocks: DataFrame, transactions: DataFrame, logs: DataFrame): Unit = {
        val before = counter.settle()
        super.append(blocks, transactions, logs)
        appendJobs = counter.settle() - before
      }
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      // 40 buckets per table: resolving a table root would list them
      // with a Spark job (the discovery threshold is 32 paths)
      StreamingIngester.processBatch(store, envelopes(SimChain.canonical(80)))
      // 50 blocks reaching 6 below the tip, as the source's re-served
      // lookback window does: every table has an overlap to anti-join
      StreamingIngester.processBatch(store, envelopes(SimChain.blocks(74, 124)))
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(appendJobs >= 0, "the append was not counted")
    assert(appendJobs <= 3, s"store.append ran $appendJobs Spark jobs for one 50-block batch")
    assertStoreIs(store, SimChain.canonical(124), "after the counted append")
  }

  test("appended and compacted files stay small and keep a bloom filter on their key") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val (store, _) = freshStore(bucketSize = 20)
    val conf = spark.sparkContext.hadoopConfiguration
    val keyOf = Map("blocks" -> "block_hash", "transactions" -> "tx_hash", "logs" -> "id")
    // the store's live files: the ones compaction drops stay on disk
    // for older readers until the grace period has passed
    def files(t: String): Seq[Path] = store.liveFiles(t).map(new Path(_))
    def assertSmallWithBloom(when: String): Unit =
      for (t <- store.Tables; f <- files(t)) {
        val len = f.getFileSystem(conf).getFileStatus(f).getLen
        assert(len < 64 * 1024, s"$when: $f is $len bytes")
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        val chunks = try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
        assert(chunks.nonEmpty && chunks.forall(_.getColumns.asScala.exists(c =>
          c.getPath.toDotString == keyOf(t) && c.getBloomFilterOffset >= 0)),
          s"$when: $f has no bloom filter on ${keyOf(t)}")
      }
    val chain = SimChain.canonical(100)
    // 50 blocks over three buckets, the last one half full
    StreamingIngester.processBatch(store, envelopes(chain.take(50)))
    assertSmallWithBloom("after a 50-block append")
    StreamingIngester.processBatch(store, envelopes(chain.drop(50)))
    assert(files("blocks").count(_.getParent.getName == "bucket=2") == 2, "bucket 2 holds two files")
    store.Tables.foreach(store.compact)
    assert(files("blocks").count(_.getParent.getName == "bucket=2") == 1, "bucket 2 was not compacted")
    assertSmallWithBloom("after compaction")
    assertStoreIs(store, chain, "after compaction")
  }

  test("replays over multi-file buckets, repeated envelopes and tx-less batches stay exactly-once") {
    import org.apache.hadoop.fs.Path
    val (store, root) = freshStore(bucketSize = 4)
    val chain = SimChain.canonical(18)
    // four appends before any compaction: buckets 0, 1 and 2 of every
    // table each hold two files
    Seq(0 -> 3, 3 -> 6, 6 -> 9, 9 -> 12).foreach { case (a, b) =>
      StreamingIngester.processBatch(store, envelopes(chain.slice(a, b)))
    }
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- store.Tables; b <- Seq(1, 2))
      assert(fs.listStatus(new Path(s"$root/$t/bucket=$b"))
        .count(_.getPath.getName.endsWith(".parquet")) > 1, s"$t bucket $b holds one file")
    assertStoreIs(store, chain.take(12), "four appends")
    // a replay whose range straddles buckets 1 and 2
    StreamingIngester.processBatch(store, envelopes(chain.slice(5, 11)))
    assertStoreIs(store, chain.take(12), "replay of 5..10")
    // the same envelope twice in one batch, half of it already stored
    StreamingIngester.processBatch(store, envelopes(chain.slice(10, 13) ++ chain.slice(12, 14)))
    assertStoreIs(store, chain.take(14), "batch with a repeated envelope")
    // blocks without txs: the transactions and logs frames are empty
    val bare = chain.slice(14, 16).map(_.copy(transactions = Seq.empty))
    StreamingIngester.processBatch(store, envelopes(bare))
    assertStoreIs(store, chain.take(14) ++ bare, "tx-less batch")
    StreamingIngester.processBatch(store, envelopes(bare))
    assertStoreIs(store, chain.take(14) ++ bare, "tx-less batch replayed")
    StreamingIngester.processBatch(store, envelopes(chain.slice(16, 18)))
    assertStoreIs(store, chain.take(14) ++ bare ++ chain.slice(16, 18), "append after the tx-less batch")
    assert(store.lastSyncedBlock.contains(17L))
  }
}
