package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.ingest.StreamingIngester

/** One micro-batch as its progress event reports it. Times are epoch
  * milliseconds; `end` is when the batch committed. */
final case class Cycle(batchId: Long, start: Long, durations: Map[String, Long]) {
  def end: Long = start + durations.getOrElse("triggerExecution", 0L)
}

/** Collects the progress events of the ingest query. */
final class ProgressProbe extends StreamingQueryListener {
  val cycles = new ConcurrentLinkedQueue[Cycle]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    cycles.add(Cycle(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  /** Cycles that did work (an idle trigger reports no addBatch) and
    * started in `[fromMs, toMs)`. */
  def working(fromMs: Long, toMs: Long): Seq[Cycle] =
    cycles.asScala.toSeq.filter(c => c.durations.contains("addBatch") && c.start >= fromMs && c.start < toMs)

  /** The same cycles as spans on the stream thread, clipped to the window. */
  def spans(fromNs: Long, toNs: Long): Seq[Span] =
    working(fromNs / 1000000L, toNs / 1000000L).map(c =>
      Span("ingest.cycle", "ingest", "stream", s"cycle-${c.batchId}",
        math.max(fromNs, c.start * 1000000L), math.min(toNs, c.end * 1000000L)))
}

/** The ingest pipeline as the benchmark drives it: loopback node →
  * `graft-rpcchain` → `StreamingIngester` → [[TimedStore]]. */
object IngestRig {

  /** Write blocks `[0, n)` with one `processBatch` call. */
  def prebuild(spark: SparkSession, store: TimedStore, n: Long): Unit = {
    import spark.implicits._
    val blocks = (0L until n).map(Chain.block)
    StreamingIngester.processBatch(store, blocks.toDF())
  }

  def startStream(spark: SparkSession, node: RpcNode, store: TimedStore, storeDir: String,
                  checkpoint: String, startBlock: Long, blocksPerBatch: Int,
                  triggerMs: Long, compactEvery: Long): StreamingQuery = {
    val envelopes = spark.readStream.format("graft-rpcchain")
      .option("rpcUrl", node.url)
      .option("startBlock", startBlock)
      .option("blocksPerBatch", blocksPerBatch)
      .option("reorgLookback", 6)
      .option("repairFile", s"$storeDir/_repair_from")
      .option("baseBackoffMs", 20)
      .load()
    StreamingIngester.start(envelopes, store, checkpoint,
      Trigger.ProcessingTime(s"$triggerMs milliseconds"), compactEvery)
  }

  /** Check the store is the chain `[0, upTo]`: every height exactly
    * once, hash-linked, with exactly the txs and logs of that block.
    * Returns the problems. */
  def verifyStore(store: TimedStore, upTo: Long): Seq[String] = {
    val blocks = store.read("blocks").get.filter(col("block_number") <= upTo)
      .select("block_number", "block_hash", "parent_hash").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def perHeight(t: String) = store.read(t).get.filter(col("block_number") <= upTo)
      .groupBy("block_number").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val txs = perHeight("transactions")
    val logs = perHeight("logs")
    val problems = Seq.newBuilder[String]
    if (blocks.length != upTo + 1 || blocks.map(_._1).distinct.length != blocks.length)
      problems += s"expected ${upTo + 1} distinct heights, found ${blocks.length} rows / ${blocks.map(_._1).distinct.length} heights"
    blocks.foreach { case (n, hash, parent) =>
      val b = Chain.block(n)
      if (hash != b.block_hash || parent != b.parent_hash) problems += s"height $n not canonical"
      if (txs.getOrElse(n, 0L) != b.transactions.size) problems += s"height $n has ${txs.getOrElse(n, 0L)} txs"
      if (logs.getOrElse(n, 0L) != b.transactions.map(_.logs.size).sum) problems += s"height $n has ${logs.getOrElse(n, 0L)} logs"
    }
    problems.result().take(10)
  }
}
