package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Point lookups + stats of the reference API
  * (`GET /block/{id}` `src/api.rs:284-303`, `GET /transaction/{hash}`
  * `src/api.rs:338-357`, `GET /stats` `src/api.rs:242-267`).
  *
  * All lookups are `filter(key === v)` on a scan, never a
  * collect-then-search. A height filter is pushed to parquet and
  * prunes bucket directories and row groups (min/max on
  * block_number). A hash lookup compares the raw stored hash with the
  * lowercased identifier, so the equality is pushed to parquet too:
  * each file's bloom filter on the key (written by
  * [[graft.ingest.ChainStore]]) rules the file out before its rows
  * are read. That needs lowercase stored hashes, which both sources
  * write (the derived fixtures' `md5` hex, and
  * [[graft.sources.JsonRpcFetcher]], which lowercases what the node
  * sends, as the reference's `format!("{:#x}")` does).
  *
  * [[blockByIdentifier]] and [[txByHash]] carry no `limit(1)`: its
  * incremental take runs a second job whenever the first partition
  * misses, and the store keeps one row per key (one block per
  * height), so the plan returns 0 or 1 rows without it.
  *
  * Over a store, [[EvmApi]] answers a key of the store's two newest
  * buckets from its in-memory [[HotTail]] instead, with no Spark job.
  * It parses the identifier with the same [[blockKey]] and [[txKey]],
  * so both paths agree on which key an identifier names; every other
  * key takes the scan here.
  */
object Lookups {

  /** The key a block identifier names: `0x`-prefixed means a hash
    * (lowercased), otherwise a height (`src/api.rs:290-303`); `None` if
    * the identifier parses as neither. */
  def blockKey(identifier: String): Option[Either[String, Long]] =
    if (identifier.startsWith("0x")) Some(Left(identifier.toLowerCase))
    else identifier.toLongOption.map(Right(_))

  /** The 0-or-1-row plan for a key from [[blockKey]]. */
  def blockByKey(blocks: DataFrame, key: Either[String, Long]): DataFrame = key match {
    case Left(hash) => blocks.filter(col("block_hash") === hash)
    case Right(n) => blocks.filter(col("block_number") === n)
  }

  /** Q-13: polymorphic identifier (see [[blockKey]]). Returns a
    * 0-or-1-row plan; `None` if the identifier parses as neither. */
  def blockByIdentifier(blocks: DataFrame, identifier: String): Option[DataFrame] =
    blockKey(identifier).map(blockByKey(blocks, _))

  /** Q-14: tx-hash validation (`0x` + 66 chars, `src/api.rs:342-346`);
    * the lowercased hash, or `None` for an invalid one. */
  def txKey(hash: String): Option[String] =
    if (hash.startsWith("0x") && hash.length == 66) Some(hash.toLowerCase) else None

  /** The 0-or-1-row plan for a key from [[txKey]]. */
  def txByKey(transactions: DataFrame, key: String): DataFrame =
    transactions.filter(col("tx_hash") === key)

  /** Q-14: validation then point filter. */
  def txByHash(transactions: DataFrame, hash: String): Option[DataFrame] =
    txKey(hash).map(txByKey(transactions, _))

  /** Q-10: hash stored at a height (`src/db.rs:19-30`). The
    * reference's `ORDER BY block_number DESC` is vestigial — it orders
    * a column the equality filter has already made constant, so its
    * "latest wins" comment (`src/db.rs:17`) is not actually
    * implemented there either. We drop the misleading sort and instead
    * rely on the store contract: [[graft.ingest.ChainStore]] keeps at
    * most one block per height (reorg rollback retracts the losing
    * branch before the winner lands), so this plan returns 0 or 1
    * rows deterministically. */
  def blockHashAtHeight(blocks: DataFrame, height: Long): DataFrame =
    blocks.filter(col("block_number") === height)
      .limit(1)
      .select(col("block_hash"))

  /** Q-11 + Q-12: three table counts + null-propagating ingestion lag
    * (`src/api.rs:242-267`). One row out; each count is a single
    * map-side-combined aggregate, so this is 3 scans and no shuffle of
    * any width at any scale. `chainHead` plays the role of
    * `chain_head_at_last_poll` from the checkpoint table.
    */
  def stats(blocks: DataFrame, transactions: DataFrame, logs: DataFrame,
            chainHeadOffset: Long = 3L): DataFrame = {
    val b = blocks.agg(count(lit(1)).as("blocks_count"),
      max(col("block_number")).as("last_processed_block"))
    val t = transactions.agg(count(lit(1)).as("transactions_count"))
    val l = logs.agg(count(lit(1)).as("logs_count"))
    b.crossJoin(t).crossJoin(l)
      .withColumn("chain_head_at_last_poll",
        col("last_processed_block") + chainHeadOffset)
      .withColumn("ingestion_lag",
        col("chain_head_at_last_poll") - col("last_processed_block"))
      .select(col("blocks_count"), col("transactions_count"), col("logs_count"),
        col("last_processed_block"), col("chain_head_at_last_poll"), col("ingestion_lag"))
  }
}
