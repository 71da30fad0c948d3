package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.ChainStore

/** A [[ChainStore]] whose public methods are timed from outside the
  * program. Status writes are always recorded, because they mark what
  * the store has committed; the rest become spans when tracing is on. */
final class TimedStore(spark: SparkSession, root: String, bucketSize: Long, trace: Trace)
    extends ChainStore(spark, root, bucketSize) {
  val rootDir: String = root

  /** (epoch ns, last processed block) for every status write. */
  val statusWrites = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var committed: Long = -1L
  /** (epoch ns, last committed block) at the end of every compaction
    * round: the ingester compacts every table, in `Tables` order, as
    * the last step of a micro-batch. */
  val rounds = new ConcurrentLinkedQueue[(Long, Long)]()

  private def timed[T](name: String)(f: => T): T = {
    SparkProbe.tag(spark.sparkContext, "")
    val t0 = trace.nowNs
    try trace.span(name, "store")(f)
    finally trace.count(name + ".ns", trace.nowNs - t0)
  }

  override def read(table: String): Option[DataFrame] = {
    trace.count("store.read.calls")
    timed("store.read")(super.read(table))
  }

  override def append(blocks: DataFrame, transactions: DataFrame, logs: DataFrame): Unit = {
    trace.count("store.append.calls")
    timed("store.append")(super.append(blocks, transactions, logs))
  }

  override def compact(table: String): Unit = {
    trace.count("store.compact.calls")
    timed("store.compact")(super.compact(table))
    if (table == Tables.last) rounds.add((trace.nowNs, committed))
  }

  override def writeStatus(lastProcessedBlock: Long, chainHeadAtLastPoll: Long): Unit = {
    trace.count("store.writeStatus.calls")
    timed("store.writeStatus")(super.writeStatus(lastProcessedBlock, chainHeadAtLastPoll))
    committed = lastProcessedBlock
    statusWrites.add((trace.nowNs, lastProcessedBlock))
  }

  def statusLog: Seq[(Long, Long)] = statusWrites.asScala.toSeq
}
