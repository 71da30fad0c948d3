package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingestion of nested block envelopes into a
  * [[ChainStore]] — the Spark re-expression of the reference's
  * hand-rolled Tokio loop (`src/main.rs:64-337`):
  *
  *  - I-1 polling loop        → micro-batch trigger (ProcessingTime)
  *  - I-4 batch bounding      → source-side offset clamping
  *  - I-7/I-8 flatten+project → [[Ingest.flatten]] (two explodes)
  *  - I-9/I-10 reorg handling → parent-hash check + store rollback
  *  - I-11 atomic commit      → idempotent append + engine checkpoint:
  *    a failed batch replays and the anti-join de-duplicates, giving
  *    the same observable exactly-once the reference gets from its
  *    per-block Postgres transaction (`src/main.rs:229-311`)
  *  - I-12 checkpoint         → Spark offset log (checkpointLocation)
  */
object StreamingIngester {

  /** Process one micro-batch of envelopes: find the reorg fork point
    * against the store, roll back if needed, then flatten +
    * idempotently append.
    *
    * The reference checks per block: stored(h-1) vs incoming parent,
    * mismatch ⇒ rollback_from_height(h-1) and retry next cycle
    * (`src/main.rs:166-189`, `src/db.rs:34-50`). Batch-natively that
    * generalizes to: the *earliest* incoming height inconsistent with
    * the store (divergent hash at the same height, or parent not
    * matching stored h-1) is the fork; everything at or above it is
    * retracted, then the batch lands in the same cycle (the reference
    * re-fetches because it threw the data away; we still hold it).
    *
    * The header triple per batch is collected to the driver — batches
    * are bounded (BLOCKS_PER_BATCH analog), this is O(batch), never
    * O(chain).
    */
  def processBatch(store: ChainStore, batchRaw: DataFrame): Unit = {
    // One source read per cycle: the batch feeds several actions
    // (header collect, three appends), so cache it instead of
    // re-executing the source scan per action.
    val batch = batchRaw.persist()
    try processCached(store, batch)
    finally batch.unpersist()
  }

  private def processCached(store: ChainStore, batch: DataFrame): Unit = {
    // the header collect is the batch's first action, so its job runs
    // the source's partitions; emptiness is read off its result (an
    // isEmpty job first would fetch the first partition on its own,
    // one more serial fetch per cycle). It sorts on the driver: an
    // orderBy would add a range-partitioner sampling job and a shuffle.
    // Each block's tx and log counts ride along: they bound the rows
    // the append writes per bucket, which it would otherwise measure
    // with a job of its own.
    val headers = batch
      .select(col("block_number"), col("block_hash"), col("parent_hash"),
        size(col("transactions")),
        aggregate(col("transactions"), lit(0L), (n, t) => n + greatest(size(t.getField("logs")), lit(0))))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) 0L else math.max(0L, r.getInt(3).toLong),
        if (r.isNullAt(4)) 0L else r.getLong(4)))
      .sortBy(_._1)
    val incoming = headers.map(h => (h._1, h._2, h._3))
    if (incoming.nonEmpty) {
      val lo = incoming.head._1
      val hi0 = incoming.last._1
      // only heights inside the batch's own range matter for fork
      // detection (stored(h) vs incoming hash, stored(h-1) vs parent),
      // so the collect is O(batch) even when a deep-history batch
      // replays under a long chain
      val stored: Map[Long, String] = store.read("blocks") match {
        case Some(b) => b.filter(col("block_number") >= lo - 1 && col("block_number") <= hi0)
          .select(col("block_number"), col("block_hash")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        case None => Map.empty
      }
      // Lowest inconsistent height wins; the parent-linkage check must
      // come FIRST — at a height where both the stored hash diverges
      // and the stored parent mismatches, the chain is already broken
      // at h-1, and taking h would re-append on top of a stale prefix.
      val fork: Option[Long] = incoming.iterator.flatMap { case (h, hash, parent) =>
        if (stored.get(h - 1).exists(_ != parent)) Some(h - 1)
        else if (stored.get(h).exists(_ != hash)) Some(h)
        else None
      }.take(1).toSeq.headOption
      fork match {
        case Some(fk) if fk < lo =>
          // Reorg deeper than the batch's own range: the rollback
          // retracts height fk, but the batch's lowest block is lo > fk
          // — appending it would leave a permanent hole at fk..lo-1
          // with the status advanced past it. Mirror the reference
          // (`src/main.rs:166-189`): retract, append NOTHING, and leave
          // a repair marker so the source re-serves from (below) the
          // fork height next cycle; status stays at the last contiguous
          // height. The serve-from reach doubles on each consecutive
          // repair, so a depth-D reorg heals in O(log D) cycles rather
          // than the reference's one block per cycle.
          store.rollback(fk)
          val width = store.readRepairFrom.map(_._2 * 2).getOrElse(1L)
          store.writeRepairFrom(math.max(0L, fk - width + 1), width)
          store.writeStatus(fk - 1, hi0)
        case other =>
          other.foreach(store.rollback)
          val (blocks, txs, logs) = Ingest.flatten(batch)
          // The reference's log id is a Postgres BIGSERIAL (`init.sql:50`);
          // here it must be a *deterministic* function of position so a
          // replayed batch produces identical ids and the idempotent
          // append stays exactly-once.
          val logsWithId = logs.withColumn("id",
            expr("block_number * 1000000 + tx_index_in_block * 1000 + log_index_in_tx"))
          def sized(df: DataFrame, rowsAt: ((Long, String, String, Long, Long)) => Long) =
            store.withRowCounts(df, headers.map(h => h._1 -> rowsAt(h)))
          store.append(sized(blocks, _ => 1L), sized(txs, _._4), sized(logsWithId, _._5))
          // The appended batch reaches back to the marked hole: healed.
          store.readRepairFrom.filter(lo <= _._1).foreach(_ => store.clearRepairFrom())
          // Q-19: checkpoint upsert in the same cycle, mirroring the
          // reference's status update inside the commit (src/main.rs:299-303).
          store.writeStatus(hi0, hi0)
      }
    }
  }

  /** Wire a streaming envelope source into the store.
    *
    * `compactEvery > 0` folds store maintenance into the ingest loop:
    * every Nth micro-batch triggers [[ChainStore.compact]] so the
    * small-files-per-bucket count stays bounded by N instead of
    * growing with stream lifetime — the piece a long-running sink
    * needs that the reference gets for free from Postgres heap files.
    */
  def start(envelopes: DataFrame, store: ChainStore, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
            compactEvery: Long = 0L): StreamingQuery =
    envelopes.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(store, batch)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          store.Tables.foreach(store.compact)
      }
      .start()
}
