package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{ChainStore, SimChain, StreamingIngester}

/** [[graft.plans.BucketPruneRule]]: height predicates over a
  * ChainStore table must become partition-directory pruning on the
  * physical `bucket` layout, and must never change results. */
class BucketPruneRuleSpec extends AnyFunSuite with SparkSpec {

  private lazy val storeRoot = Files.createTempDirectory("bucketprune-store").toString
  private lazy val store: ChainStore = {
    import spark.implicits._
    val s = new ChainStore(spark, storeRoot, bucketSize = 10)
    SimChain.canonical(100).grouped(20)
      .foreach(b => StreamingIngester.processBatch(s, b.toDF()))
    s
  }

  private def scanLine(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("FileScan")).mkString("\n")

  test("point lookup prunes to the one bucket directory (PartitionFilters on the scan)") {
    val df = store.read("blocks").get.filter(col("block_number") === 55)
    val scan = scanLine(df)
    // height 55 with bucketSize 10 ⟹ only bucket=5 is read
    assert(scan.contains("PartitionFilters") && scan.contains("(bucket#") ||
      scan.matches("(?s).*PartitionFilters: \\[.*bucket.*=.*5.*"),
      s"expected a bucket partition filter in:\n$scan")
    // 100 blocks / bucketSize 10 = 10 dirs; the scan must report 1
    val partsRead = df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    assert(partsRead == 1, s"expected 1 of 10 bucket dirs selected, got $partsRead")
    assert(df.select("block_hash").count() == 1)
  }

  test("range predicate prunes to the spanned buckets") {
    val df = store.read("transactions").get
      .filter(col("block_number") >= 35 && col("block_number") <= 54)
    val partsRead = df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    assert(partsRead == 3, s"blocks 35..54 span buckets 3,4,5; got $partsRead")
  }

  test("transposition is semantics-preserving vs the unmarked (rule-off) read") {
    // the rule keys on ChainStore.read's column metadata; a raw
    // parquet read of the same directory carries none, so the rule
    // cannot fire there — that is the ground-truth comparison
    // (excludedRules would not work: this is an analyzer rule)
    val raw = spark.read.parquet(s"${storeRoot}/blocks")
    val filters = Seq(
      col("block_number") === 55,
      col("block_number") > 17 && col("block_number") < 33,
      col("block_number") >= 90,            // last bucket
      col("block_number") <= 0,             // first block only
      col("block_number") === 999,          // beyond the chain: empty
      lit(42) <= col("block_number") && lit(49) >= col("block_number"))
    filters.foreach { f =>
      val withRule = store.read("blocks").get.filter(f)
        .select("block_number").collect().map(_.getLong(0)).sorted.toSeq
      val without = raw.filter(f)
        .select("block_number").collect().map(_.getLong(0)).sorted.toSeq
      assert(withRule == without, s"filter $f changed results")
    }
  }

  test("join of two store tables: a predicate on one side cannot derive the other side's bucket bound") {
    // blocks at height 29 sit in bucket 2; their +1 rows in the other
    // table sit at height 30 — bucket 3. Resolving the bucket's source
    // column by NAME over the joined output would match the wrong
    // table's block_number and inject bucket<=2 for the tx side,
    // silently emptying the join.
    val b = store.read("blocks").get
    val t = store.read("transactions").get
    val joined = b.join(t, b("block_number") === t("block_number") - 1)
      .filter(b("block_number") === 29)
    val got = joined.select(t("block_number")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(30L),
      s"cross-derived bucket bound must not drop the next-bucket rows: $got")
  }

  test("foldable non-literal bounds are evaluated, not syntactically unwrapped") {
    // lit(50)+lit(5) folds to 55 only at optimization; the analyzer-
    // stage rule must eval the foldable expression to derive bucket 5
    val df = store.read("blocks").get
      .filter(col("block_number") === (lit(50) + lit(5)))
    val partsRead = df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    assert(partsRead == 1, s"expected pruning from the evaluated bound, got $partsRead")
    assert(df.select("block_number").collect().map(_.getLong(0)).toSeq == Seq(55L))
  }

  test("property: random bound combinations never change results vs the unmarked read") {
    val raw = spark.read.parquet(s"${storeRoot}/blocks")
    val rnd = new scala.util.Random(7)
    val interesting = Seq(-1L, 0L, 1L, 9L, 10L, 11L, 55L, 99L, 100L, 101L,
      Long.MaxValue, Long.MinValue, 1L << 52)
    def bound(): Long =
      if (rnd.nextBoolean()) interesting(rnd.nextInt(interesting.length))
      else rnd.nextLong(120) - 10
    (1 to 25).foreach { _ =>
      val f = rnd.nextInt(5) match {
        case 0 => col("block_number") === bound()
        case 1 => col("block_number") >= bound()
        case 2 => col("block_number") <= bound()
        case 3 => col("block_number") > bound() && col("block_number") < bound()
        case 4 => lit(bound()) <= col("block_number") && col("block_number") =!= bound()
      }
      val withRule = store.read("blocks").get.filter(f)
        .select("block_number").collect().map(_.getLong(0)).sorted.toSeq
      val without = raw.filter(f)
        .select("block_number").collect().map(_.getLong(0)).sorted.toSeq
      assert(withRule == without, s"filter $f changed results")
    }
  }

  test("a /logs page over a store past 32 buckets reads only the buckets its range spans") {
    import spark.implicits._
    import graft.api.{GetLogsFilter, LogsQuery}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("bucketprune-logs").toString
    val big = new ChainStore(spark, root, bucketSize = 10)
    StreamingIngester.processBatch(big, SimChain.canonical(350).toDF()) // 35 buckets
    val raw = spark.read.parquet(s"$root/logs")
    val rowsRead = new java.util.concurrent.atomic.AtomicLong()
    val reads = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => rowsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    // blocks 123..141 span buckets 12, 13 and 14
    val filters = Seq(
      GetLogsFilter(fromBlock = Some(123), toBlock = Some(141), pageSize = Some(100)),
      GetLogsFilter(fromBlock = Some(123), toBlock = Some(141), topic0 = Some(SimChain.canonical(1)
        .head.transactions.head.logs.head.topic0), cursorBlock = Some(130), cursorLogId = Some(0),
        pageSize = Some(10)))
    val jobs = new JobCounter(spark)
    spark.sparkContext.addSparkListener(jobs)
    spark.sparkContext.addSparkListener(reads)
    try filters.foreach { f =>
      val page = LogsQuery.plan(big.read("logs").get, f)
      val scans = page.queryExecution.executedPlan.collectLeaves()
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "bucket"))),
        s"expected bucket PartitionFilters in:\n${page.queryExecution.executedPlan}")
      val parts = scans.map(_.selectedPartitions.partitionCount).sum
      assert(parts == 3, s"blocks 123..141 span 3 of 35 buckets; the page opened $parts")
      jobs.settle()
      val r0 = rowsRead.get
      val got = page.collect().map(_.getAs[Long]("id")).toSeq
      jobs.settle()
      val read = rowsRead.get - r0
      val inRange = raw.filter(col("bucket").between(12, 14)).count()
      assert(read <= inRange, s"the page read $read rows; buckets 12..14 hold $inRange")
      // same page as the filter over the unmarked read
      val want = LogsQuery.predicates(f).foldLeft(raw)(_.filter(_))
        .orderBy(col("block_number"), col("id")).limit(f.pageSize.get)
        .collect().map(_.getAs[Long]("id")).toSeq
      assert(got.nonEmpty && got == want)
    } finally {
      spark.sparkContext.removeSparkListener(reads)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("the fork-detect batch read (the per-cycle hot path) is pruned") {
    // StreamingIngester's per-batch fork check reads
    // block_number ∈ [lo-1, hi]; at a long chain this must stay
    // O(batch), not O(chain)
    val df = store.read("blocks").get
      .filter(col("block_number") >= 79 && col("block_number") <= 95)
      .select(col("block_number"), col("block_hash"))
    val partsRead = df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }.sum
    assert(partsRead == 3, s"blocks 79..95 span buckets 7,8,9; got $partsRead")
    assert(df.count() == 17)
  }
}
