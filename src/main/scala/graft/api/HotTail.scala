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
  *    snapshot's manifest), at most 2 × bucketSize blocks and their
  *    transactions, so the store layout sets it.
  *  - It holds every stored row at or above its lowest height. A
  *    height there is decided by the tail, a height above the tip
  *    included (a correct miss); a hash is decided when it is one of
  *    the tail's rows. Any other key scans.
  *  - It belongs to one [[ChainStore.Snapshot]] and answers as of that
  *    manifest version, like the scans of the facade that holds it. A
  *    commit moves the version, and the next factory call builds the
  *    tail again from the new snapshot.
  */
private[graft] final class HotTail private (private[api] val version: Long,
                                            blocks: Array[Row], txs: Array[Row]) {
  private val fromHeight = blocks.map(_.getAs[Long]("block_number")).min
  private val blockAt = blocks.map(r => r.getAs[Long]("block_number") -> r).toMap
  private val blockByHash = blocks.map(r => r.getAs[String]("block_hash") -> r).toMap
  private val txByHash = txs.map(r => r.getAs[String]("tx_hash") -> r).toMap

  def blockCount: Int = blocks.length
  def txCount: Int = txs.length

  /** `Some(row or none)` when the tail decides the key from
    * [[Lookups.blockKey]]; `None` when the lookup must scan. */
  def block(key: Either[String, Long]): Option[Option[Row]] = key match {
    case Left(hash) => blockByHash.get(hash).map(Some(_))
    case Right(n) => if (n >= fromHeight) Some(blockAt.get(n)) else None
  }

  /** The same for a key from [[Lookups.txKey]]. */
  def tx(key: String): Option[Option[Row]] = txByHash.get(key).map(Some(_))
}

private[api] object HotTail {

  /** The tail for one store, built once per manifest version,
    * single-flight: concurrent factory calls at a new version wait for
    * one build and share it. */
  final class Slot {
    @volatile private var built: Option[HotTail] = None

    /** The tail of `s`; `None` when there is none to use. */
    def at(s: ChainStore.Snapshot): Option[HotTail] = {
      val b = built
      if (b.exists(_.version == s.version)) b
      else synchronized {
        // a caller holding an older snapshot gets no tail: the newer
        // tail answers as of a version its frames do not read
        if (built.exists(_.version >= s.version)) built.filter(_.version == s.version)
        else {
          val t = build(s)
          if (t.isDefined) built = t
          t
        }
      }
    }
  }

  /** Two Spark jobs, one collect per table, over the snapshot's frames.
    * Each frame reads one manifest version whole, so the rows of every
    * bucket it holds are there. The tail is an optimisation, so a
    * failed build leaves the lookups to the scan instead of failing
    * the request. */
  private def build(s: ChainStore.Snapshot): Option[HotTail] =
    try {
      for {
        from <- s.buckets("blocks").takeRight(2).headOption
        blocks <- s.table("blocks")
        txs <- s.table("transactions")
      } yield {
        def rowsFrom(df: DataFrame) = df.filter(col("bucket") >= from).collect()
        new HotTail(s.version, rowsFrom(blocks), rowsFrom(txs))
      }
    } catch { case NonFatal(_) => None }
}
