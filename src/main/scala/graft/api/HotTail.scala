package graft.api

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.ingest.ChainStore

/** The `blocks` and `transactions` rows of a [[ChainStore]]'s two
  * newest buckets, in memory, so that a point lookup of the newest
  * blocks (the keys a block explorer reads most) runs no Spark job.
  * The store's factories in [[EvmApi]] build it; [[EvmApi.block]] and
  * [[EvmApi.transaction]] ask it first and scan ([[Lookups]]) only
  * when it cannot decide.
  *
  *  - Size: the rows of the two newest buckets of `blocks` (from the
  *    store's manifest), at most 2 × bucketSize blocks and their
  *    transactions, so the store layout sets it.
  *  - It holds every stored row at or above its lowest height. A
  *    height there is decided by the tail, a height above the tip
  *    included (a correct miss); a hash is decided when it is one of
  *    the tail's rows. Any other key scans.
  *  - It answers only while the store is at the `mutationCount`
  *    version it was built for; an append or rollback sends lookups
  *    back to the scan until the factory rebuilds it. Compaction
  *    rewrites bytes, not answers, and leaves it valid.
  *  - Like [[LookupCache]], it relies on the in-process version. A
  *    store object without the writer lock sees another process's
  *    commits as new manifest versions on its next `read`, but has no
  *    `mutationCount` to stamp a tail with, so it gets no tail, and its
  *    lookups scan.
  */
private[graft] final class HotTail private (private[api] val version: Long,
                                            now: () => Long,
                                            blocks: Array[Row], txs: Array[Row]) {
  private val fromHeight = blocks.map(_.getAs[Long]("block_number")).min
  private val blockAt = blocks.map(r => r.getAs[Long]("block_number") -> r).toMap
  private val blockByHash = blocks.map(r => r.getAs[String]("block_hash") -> r).toMap
  private val txByHash = txs.map(r => r.getAs[String]("tx_hash") -> r).toMap

  def blockCount: Int = blocks.length
  def txCount: Int = txs.length

  /** `Some(row or none)` when the tail decides the key from
    * [[Lookups.blockKey]]; `None` when the lookup must scan. */
  def block(key: Either[String, Long]): Option[Option[Row]] =
    if (now() != version) None
    else key match {
      case Left(hash) => blockByHash.get(hash).map(Some(_))
      case Right(n) => if (n >= fromHeight) Some(blockAt.get(n)) else None
    }

  /** The same for a key from [[Lookups.txKey]]. */
  def tx(key: String): Option[Option[Row]] =
    if (now() != version) None else txByHash.get(key).map(Some(_))
}

private[api] object HotTail {

  /** The tail for one store, built once per `mutationCount` version,
    * single-flight: concurrent factory calls at a new version wait for
    * one build and share it. */
  final class Slot(store: ChainStore) {
    @volatile private var built: Option[HotTail] = None

    /** The tail for `version`, from frames resolved after `version`
      * was read; `None` when there is none to use. */
    def at(version: Long, blocks: DataFrame, txs: DataFrame): Option[HotTail] = {
      val b = built
      if (b.exists(_.version == version)) b
      else synchronized {
        // a caller holding an older version gets no tail: its frames
        // predate a mutation, and the newer tail is not theirs
        if (built.exists(_.version >= version)) built.filter(_.version == version)
        else {
          val t = build(store, version, blocks, txs)
          if (t.isDefined) built = t
          t
        }
      }
    }
  }

  /** Two Spark jobs, one collect per table, over the given frames.
    * Each frame reads one manifest version whole, so the rows of every
    * bucket it holds are there. The tail is an optimisation, so a
    * failed build leaves the lookups to the scan instead of failing
    * the request. */
  private def build(store: ChainStore, version: Long,
                    blocks: DataFrame, txs: DataFrame): Option[HotTail] =
    if (!store.holdsWriterLock) None
    else try {
      store.buckets("blocks").takeRight(2).headOption.map { from =>
        def rowsFrom(df: DataFrame) = df.filter(col("bucket") >= from).collect()
        new HotTail(version, () => store.mutationCount, rowsFrom(blocks), rowsFrom(txs))
      }
    } catch { case NonFatal(_) => None }
}
