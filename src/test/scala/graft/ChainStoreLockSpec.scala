package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, expr}
import graft.ingest.{ChainStore, Ingest, SimChain, StreamingIngester}

/** Pins the single-writer contract of [[graft.ingest.ChainStore]]:
  * manifest commits and the leftover sweep assume one writer process,
  * so a second process must fail fast on its first mutation instead of
  * interleaving. A unit test cannot fork a JVM,
  * but the lock's process identity is just the holder token — writing
  * a foreign token IS another process as far as the protocol is
  * concerned.
  */
class ChainStoreLockSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("lockstore").toString

  test("second writer process fails fast; reads stay lock-free; forceUnlock recovers") {
    val root = newRoot()
    val store = new ChainStore(spark, root, 10)
    StreamingIngester.processBatch(store, SimChain.canonical(5).toDF())
    assert(Files.exists(Paths.get(root, "_writer.lock")), "first mutation takes the lock")

    // simulate a writer from ANOTHER live process holding the lock
    store.close()
    Files.write(Paths.get(root, "_writer.lock"),
      "pid9999@otherhost:deadbeef".getBytes("UTF-8"))

    val second = new ChainStore(spark, root, 10)
    val e = intercept[ChainStore.ConcurrentWriterException] {
      StreamingIngester.processBatch(second, SimChain.canonical(6).toDF())
    }
    assert(e.getMessage.contains("pid9999@otherhost"), "error names the holder")
    // the failed mutation must not have written anything
    assert(second.read("blocks").get.count() == 5, "reads work without the lock")

    // the foreign process died: operator clears the lock, writing resumes
    ChainStore.forceUnlock(spark, root)
    StreamingIngester.processBatch(second, SimChain.canonical(6).toDF())
    assert(second.read("blocks").get.count() == 6)
  }

  test("same-process restart re-acquires the lock (crash-replay shape)") {
    val root = newRoot()
    val first = new ChainStore(spark, root, 10)
    StreamingIngester.processBatch(first, SimChain.canonical(4).toDF())
    // no close(): simulate the previous store object simply dropped
    val restarted = new ChainStore(spark, root, 10)
    StreamingIngester.processBatch(restarted, SimChain.canonical(8).toDF())
    assert(restarted.read("blocks").get.count() == 8)
  }

  test("sibling stores over one root: a read sees the other object's append") {
    val root = newRoot()
    val a = new ChainStore(spark, root, 2)
    StreamingIngester.processBatch(a, SimChain.canonical(5).toDF())
    assert(a.read("blocks").get.count() == 5) // a holds the lock: this frame is reused
    val b = new ChainStore(spark, root, 2) // adopts the process lock
    StreamingIngester.processBatch(b, SimChain.canonical(8).toDF())
    assert(a.read("blocks").get.count() == 8, "a must not reuse a frame from before b's append")
  }

  test("a reader-only store sees a foreign writer's new file on its very next read") {
    val root = newRoot()
    val writer = new ChainStore(spark, root, 2)
    StreamingIngester.processBatch(writer, SimChain.canonical(5).toDF())
    writer.close()
    val foreignLock = Paths.get(root, "_writer.lock")
    Files.write(foreignLock, "pid1@other:feed".getBytes("UTF-8"))

    val reader = new ChainStore(spark, root, 2)
    val first = reader.read("blocks").get
    assert(first.count() == 5)
    assert(reader.read("blocks").get eq first, "an unchanged version must reuse the resolved frame")
    // the foreign writer drops block 5 as a new file into bucket=2,
    // which already holds block 4, and commits a manifest version. It
    // is played by a store in this JVM while the foreign lock is
    // lifted; the reader shares nothing in memory with it.
    ChainStore.forceUnlock(spark, root)
    val foreign = new ChainStore(spark, root, 2)
    val (blocks, txs, logs) = Ingest.flatten(SimChain.canonical(6).toDF())
    val logsWithId = logs.withColumn("id",
      expr("block_number * 1000000 + tx_index_in_block * 1000 + log_index_in_tx"))
    val Seq(b5, t5, l5) = Seq(blocks, txs, logsWithId).map(_.filter(col("block_number") === 5))
    foreign.append(b5, t5, l5)
    foreign.close()
    Files.write(foreignLock, "pid1@other:feed".getBytes("UTF-8"))
    val heights = reader.read("blocks").get.select("block_number").collect().map(_.getLong(0))
    assert(heights.sorted.toSeq == (0L to 5L), "the reader must see the new version, not reuse a frame")
    assert(reader.lastSyncedBlock.contains(5L))
  }
}
