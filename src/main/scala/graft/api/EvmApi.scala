package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Typed wire models of the reference's REST responses
  * (`src/api_models.rs:50-76`, `src/models.rs:10-74`) — what a caller
  * of `GET /stats`, `GET /block/{id}`, `GET /transaction/{hash}`
  * receives, minus the HTTP frame. */
final case class IndexerStats(
    blocksCount: Long, transactionsCount: Long, logsCount: Long,
    lastProcessedBlock: Option[Long], chainHeadAtLastPoll: Option[Long],
    ingestionLag: Option[Long])

/** Block gas columns are U256 decimal strings, the reference's storage
  * contract (`init.sql:18-20`): TEXT survives the full 78-digit u256
  * range that BIGINT/NUMERIC(38) cannot. */
final case class BlockInfo(
    blockNumber: Long, blockHash: String, parentHash: String,
    timestamp: Long, miner: Option[String], gasUsed: Option[String],
    gasLimit: Option[String], baseFeePerGas: Option[String],
    txCount: Option[Long])

final case class TransactionInfo(
    txHash: String, blockNumber: Long, blockHash: String,
    txIndexInBlock: Option[Long], fromAddress: String,
    toAddress: Option[String], value: String, gasUsed: Option[String],
    gasLimit: Option[String], gasPrice: Option[String],
    maxFeePerGas: Option[String], maxPriorityFeePerGas: Option[String],
    inputData: Option[String], nonce: Option[Long], status: Option[Long])

/** The reference's complete serving surface as one typed facade — the
  * four endpoints of `src/api.rs:393-401` over any source of the three
  * EVM tables (derived fixtures or a [[graft.ingest.ChainStore]]).
  *
  * Error semantics mirror the reference: invalid identifiers and
  * missing rows are `None` (its 400/404, `src/api.rs:65-74,342-346`);
  * only real failures throw (its 500).
  *
  * Serving caveat (SURVEY §7.4): a COLD point lookup is one Spark job
  * that reads only the matching file's rows ([[Lookups]]), but the
  * driver work around the job costs tens of milliseconds however well
  * the scan prunes — inherent to the engine choice. Two in-process
  * tiers avoid the job:
  *  - over a store, the [[HotTail]] holds the rows of the store's two
  *    newest buckets, so a lookup of a block or tx there (or of a
  *    height above the tip) runs no Spark job, cold or not;
  *  - the optional [[LookupCache]] (default-on in every factory)
  *    answers a repeated point lookup with zero Spark jobs. A lookup it
  *    misses asks the tail, then the scan, so its hit and miss counts
  *    do not depend on the tail.
  *
  * A facade over a store reads one [[graft.ingest.ChainStore.Snapshot]]:
  * its three frames and its tail are the tables at one manifest
  * `version`, and the memo stamps what it computes with that version.
  * A commit (append, reorg rollback, compaction or status write) moves
  * the version, so the memo stops answering and the next facade reads
  * the new one (a rollback can change the answer at an existing
  * height, so per-key invalidation would be wrong).
  */
final class EvmApi private[api] (blocks: DataFrame, transactions: DataFrame, logs: DataFrame,
                                 cache: Option[LookupCache], version: Long,
                                 private[graft] val hotTail: Option[HotTail]) {

  /** A facade over fixed frames, with no hot tail. */
  def this(blocks: DataFrame, transactions: DataFrame, logs: DataFrame,
           cache: Option[LookupCache] = None) =
    this(blocks, transactions, logs, cache, 0L, None)

  private def memo[T](kind: String, key: String)(compute: => T): T =
    cache match {
      case Some(c) => c.getOrCompute(kind, key, version)(compute)
      case None => compute
    }

  /** The tail's row when it decides the key, else the scan's. */
  private def rowOf(fromTail: HotTail => Option[Option[Row]], scan: => DataFrame): Option[Row] =
    hotTail.flatMap(fromTail).getOrElse(scan.collect().headOption)

  /** `GET /stats` (`src/api.rs:242-267`). */
  def stats(): IndexerStats = {
    val r = Lookups.stats(blocks, transactions, logs).collect().head
    def optLong(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
    IndexerStats(r.getLong(0), r.getLong(1), r.getLong(2),
      optLong(3), optLong(4), optLong(5))
  }

  /** `POST /logs` (`src/api.rs:111-228`): one filtered page + resume
    * cursor. */
  def logsPage(filter: GetLogsFilter): LogsResponse =
    LogsQuery.run(logs, filter)

  /** `GET /block/{identifier}` (`src/api.rs:284-320`): 0x-hash or
    * decimal height; None = 404 (or 400 on an unparsable identifier).
    *
    * Hash-vs-number routing is decided on the RAW identifier —
    * `api.rs:290` checks `starts_with("0x")` before any case-fold, so
    * `'0X…'` is NOT a hash (the reference rejects it; here it falls
    * through to the number parse and misses). Only an ACCEPTED `0x`
    * identifier has its body lowercased, and that normalized form is
    * both the memo key and the value handed to [[Lookups]] — so the
    * cached answer always agrees with what a fresh compute of the
    * same key would return ('0xAB…' and '0xab…' are one key AND one
    * answer; keying on a normalized form while computing on the raw
    * one would let a mixed-case miss poison the entry for the valid
    * lowercase spelling). */
  def block(identifier: String): Option[BlockInfo] = {
    val id = if (identifier.startsWith("0x")) identifier.toLowerCase else identifier
    memo("block", id) {
      Lookups.blockKey(id)
        .flatMap(k => rowOf(_.block(k), Lookups.blockByKey(blocks, k)))
        .map(EvmApi.blockInfo)
    }
  }

  /** `GET /transaction/{tx_hash}` (`src/api.rs:338-387`). Same
    * raw-prefix-then-fold contract as [[block]] (`api.rs:342-346`
    * validates `starts_with("0x")` on the raw param): a `'0X…'` hash
    * never reaches the lookup; an accepted one is lowercased once and
    * that form is both the memo key and the computed answer's key. */
  def transaction(txHash: String): Option[TransactionInfo] = {
    val id = if (txHash.startsWith("0x")) txHash.toLowerCase else txHash
    memo("tx", id) {
      Lookups.txKey(id)
        .flatMap(k => rowOf(_.tx(k), Lookups.txByKey(transactions, k)))
        .map(EvmApi.transactionInfo)
    }
  }
}

object EvmApi {
  /** A nullable or absent column as an Option: the sources differ in
    * the columns they carry. */
  private def get[T](r: Row, name: String): Option[T] =
    if (!r.schema.fieldNames.contains(name) || r.isNullAt(r.fieldIndex(name))) None
    else Some(r.getAs[T](name))

  /** One stored `blocks` row, scanned or from the hot tail. */
  private def blockInfo(r: Row): BlockInfo =
    BlockInfo(
      r.getAs[Long]("block_number"), r.getAs[String]("block_hash"),
      r.getAs[String]("parent_hash"), r.getAs[Long]("timestamp"),
      get[String](r, "miner"), get[String](r, "gas_used"),
      get[String](r, "gas_limit"), get[String](r, "base_fee_per_gas"),
      get[Long](r, "tx_count"))

  /** One stored `transactions` row, scanned or from the hot tail. */
  private def transactionInfo(r: Row): TransactionInfo =
    TransactionInfo(
      r.getAs[String]("tx_hash"), r.getAs[Long]("block_number"),
      r.getAs[String]("block_hash"), get[Long](r, "tx_index_in_block"),
      r.getAs[String]("from_address"), get[String](r, "to_address"),
      r.getAs[String]("value"), get[String](r, "gas_used"),
      get[String](r, "gas_limit"), get[String](r, "gas_price"),
      get[String](r, "max_fee_per_gas"), get[String](r, "max_priority_fee_per_gas"),
      get[String](r, "input_data"), get[Long](r, "nonce"), get[Long](r, "status"))

  /** Facade over the derived fixture tables — immutable source, so the
    * lookup memo never needs invalidating (version constant). */
  def onFixtures(spark: SparkSession, sfDir: String): EvmApi =
    new EvmApi(
      graft.evm.EvmDerive.blocks(spark, sfDir),
      graft.evm.EvmDerive.transactions(spark, sfDir),
      graft.evm.EvmDerive.logs(spark, sfDir),
      Some(new LookupCache()))

  /** Facade over an ingested [[graft.ingest.ChainStore]] — the serving
    * side of the reference's concurrent ingest+serve design (I-13).
    * The lookup memo invalidates on the store's manifest version, so a
    * reorg rollback is visible on the very next request. It builds the
    * store's [[HotTail]] (two Spark jobs). */
  def onStore(store: graft.ingest.ChainStore): Option[EvmApi] =
    onStoreWith(store, new LookupCache(version = () => store.mutationCount), new HotTail.Slot)

  private def onStoreWith(store: graft.ingest.ChainStore, cache: LookupCache,
                          tails: HotTail.Slot): Option[EvmApi] = {
    val s = store.snapshot
    for {
      b <- s.table("blocks")
      t <- s.table("transactions")
      l <- s.table("logs")
    } yield new EvmApi(b, t, l, Some(cache), s.version, tails.at(s))
  }

  /** The live-serving provider for [[RestServer]]: a facade per
    * request over the store's current [[graft.ingest.ChainStore.snapshot]],
    * sharing ONE version-aware lookup memo across requests. The store
    * hands back the snapshot it already resolved until a commit moves
    * the version: in the writer process any commit through a store
    * object over the root, in a reader-only process a foreign writer's
    * commit, found by one listing of the manifest directory per call
    * (and one more per memoized lookup, for the memo's version).
    * Either way appends and rollbacks are visible on the next request,
    * and a request that overlaps a commit keeps reading the version it
    * resolved. Without the shared memo, per-request facades would each
    * allocate a cold cache and the repeat-lookup win would never
    * materialize. The provider shares one [[HotTail]] the same way: the
    * first call at each version builds it (two Spark jobs,
    * single-flight) and later calls reuse it, so no lookup pays for it.
    * Throws if the store has no tables yet — serve after the first
    * committed batch, like the reference's API server over an
    * initialized schema. */
  def providerOnStore(store: graft.ingest.ChainStore,
                      cache: LookupCache): () => EvmApi = {
    val tails = new HotTail.Slot
    () => onStoreWith(store, cache, tails).getOrElse(
      throw new IllegalStateException("chain store has no tables yet"))
  }

  def providerOnStore(store: graft.ingest.ChainStore): () => EvmApi =
    providerOnStore(store, new LookupCache(version = () => store.mutationCount))
}
