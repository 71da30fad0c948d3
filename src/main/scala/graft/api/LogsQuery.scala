package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Filter model of the reference's `POST /logs` body
  * (`src/api_models.rs:16-48`): every field optional, ANDed together;
  * `blockHash` overrides the block range (`src/api.rs:126-139`);
  * cursor mode when EITHER cursor field is present, the absent one
  * defaulting to 0 (`src/api.rs:116-118` `unwrap_or(0)`).
  */
final case class GetLogsFilter(
    blockHash: Option[String] = None,
    fromBlock: Option[Long] = None,
    toBlock: Option[Long] = None,
    contractAddress: Option[String] = None,
    topic0: Option[String] = None,
    topic1: Option[String] = None,
    topic2: Option[String] = None,
    topic3: Option[String] = None,
    cursorBlock: Option[Long] = None,
    cursorLogId: Option[Long] = None,
    page: Option[Int] = None,
    pageSize: Option[Int] = None) {
  def cursorMode: Boolean = cursorBlock.isDefined || cursorLogId.isDefined
}

/** One page of logs plus the resume cursor
  * (`src/api_models.rs:61-66`). */
final case class LogsResponse(
    logs: Array[Row],
    nextCursorBlock: Option[Long],
    nextCursorLogId: Option[Long])

/** The reference's flagship filtered-log query (`src/api.rs:111-228`),
  * re-expressed as a declarative DataFrame plan so Catalyst pushes the
  * predicates and the projection down to the parquet scan.
  *
  * Q-1 projection with aliases, Q-2 case-insensitive equality, Q-3
  * range, Q-4 topic filters, Q-5 Option-fold predicate builder, Q-6
  * keyset cursor, Q-7 stable sort, Q-8 limit+clamp, Q-9 offset page,
  * Q-23 cursor emission.
  *
  * Scale notes: every predicate lands in `PushedFilters` of the
  * parquet scan (strings + longs only); the sort+limit compiles to
  * `TakeOrderedAndProject`, which is a per-partition top-k plus a
  * driver merge — no global shuffle-sort even at 100 TB. The offset
  * path (legacy, reference `src/api.rs:177-182`) uses
  * `offset(m).limit(n)` which Spark folds into the same top-(m+n)
  * physical plan, NOT a global `row_number` window.
  */
object LogsQuery {
  val MaxPageSize = 100
  val DefaultPageSize = 25

  /** `page_size.clamp(1, 100)` — reference `src/api.rs:26,115`. */
  def clampPageSize(n: Int): Int = math.max(1, math.min(MaxPageSize, n))

  /** Q-1: the reference's projection incl. `log_index_in_tx AS
    * log_index` and `transaction_index_in_block AS transaction_index`
    * (`src/api.rs:118-124`). */
  def projection(logs: DataFrame): DataFrame =
    logs.select(
      col("id"), col("log_index_in_tx").as("log_index"),
      col("tx_index_in_block").as("transaction_index"),
      col("block_number"), col("block_hash"), col("transaction_hash"),
      col("contract_address"), col("data"),
      col("topic0"), col("topic1"), col("topic2"), col("topic3"))

  /** Q-5: dynamic predicate list. Mutually-exclusive branch: a given
    * block_hash suppresses the range bounds (`src/api.rs:126-139`). */
  def predicates(f: GetLogsFilter): Seq[Column] = {
    val hashOrRange: Seq[Column] = f.blockHash match {
      case Some(h) => Seq(lower(col("block_hash")) === h.toLowerCase)
      case None =>
        f.fromBlock.map(b => col("block_number") >= b).toSeq ++
          f.toBlock.map(b => col("block_number") <= b).toSeq
    }
    val rest: Seq[Column] =
      f.contractAddress.map(a => lower(col("contract_address")) === a.toLowerCase).toSeq ++
        f.topic0.map(col("topic0") === _).toSeq ++
        f.topic1.map(col("topic1") === _).toSeq ++
        f.topic2.map(col("topic2") === _).toSeq ++
        f.topic3.map(col("topic3") === _).toSeq
    // Q-6: keyset cursor `(block_number, id) > (cb, cl)` expanded to
    // booleans (`src/api.rs:162-172`) — pushed down to row-group
    // pruning on block_number. Either field alone enters cursor mode;
    // the other defaults to 0 (`src/api.rs:116-118` `unwrap_or(0)`).
    val cursor: Seq[Column] =
      if (f.cursorMode) {
        val cb = f.cursorBlock.getOrElse(0L)
        val cl = f.cursorLogId.getOrElse(0L)
        Seq(col("block_number") > cb ||
          (col("block_number") === cb && col("id") > cl))
      } else Nil
    hashOrRange ++ rest ++ cursor
  }

  /** Build the full page plan (unexecuted). The predicates apply to the
    * source frame before [[projection]]: over a
    * [[graft.ingest.ChainStore]] frame, [[graft.plans.BucketPruneRule]]
    * only sees a height bound on a Filter directly above the frame's
    * marked `bucket` column, which the projection drops. Filtering
    * first turns the block range into bucket `PartitionFilters`;
    * projecting first opened every bucket of the table. */
  def plan(logs: DataFrame, f: GetLogsFilter): DataFrame = {
    val pageSize = clampPageSize(f.pageSize.getOrElse(DefaultPageSize))
    val filtered = projection(predicates(f).foldLeft(logs)(_.filter(_)))
    // Q-7: stable total order for deterministic pagination
    // (`src/api.rs:174`).
    val sorted = filtered.orderBy(col("block_number").asc, col("id").asc)
    if (f.cursorMode) sorted.limit(pageSize)
    else {
      // Q-9: legacy OFFSET path (`src/api.rs:177-182`), page >= 1.
      val page = math.max(1, f.page.getOrElse(1))
      sorted.offset((page - 1) * pageSize).limit(pageSize)
    }
  }

  /** Execute and emit the next cursor from the last row (Q-23,
    * `src/api.rs:186-195,224-228`). */
  def run(logs: DataFrame, f: GetLogsFilter): LogsResponse = {
    val rows = plan(logs, f).collect()
    val last = rows.lastOption
    LogsResponse(
      rows,
      last.map(_.getAs[Long]("block_number")),
      last.map(_.getAs[Long]("id")))
  }
}
