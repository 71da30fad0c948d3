package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.ingest.{ChainStore, Ingest, SimChain, StreamingIngester}

/** Pins the single-writer contract of [[graft.ingest.ChainStore]]:
  * bucket swaps and recovery sweeps are crash-safe for one writer
  * process only, so a second process must fail fast on its first
  * mutation instead of interleaving. A unit test cannot fork a JVM,
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

  test("a reader never heals a foreign writer's in-flight swap; recovery resumes once the lock clears") {
    val root = newRoot()
    val writer = new ChainStore(spark, root, 2)
    StreamingIngester.processBatch(writer, SimChain.canonical(5).toDF())
    writer.close()
    val total = new ChainStore(spark, root, 2).read("blocks").get.count()
    assert(total == 5)
    // simulate a foreign writer mid-swap: blocks bucket=1 set aside,
    // replacement not yet renamed in, lock held by that process
    val dir = Paths.get(root, "blocks")
    java.nio.file.Files.move(dir.resolve("bucket=1"), dir.resolve(".aside-bucket=1"))
    Files.write(Paths.get(root, "_writer.lock"), "pid1@other:feed".getBytes("UTF-8"))

    val reader = new ChainStore(spark, root, 2)
    val visible = reader.read("blocks").get.count()
    assert(visible < total, "the in-flight bucket is transiently hidden")
    assert(Files.exists(dir.resolve(".aside-bucket=1")),
      "the reader must NOT have healed the live swap")

    // the foreign writer died: clear its lock — a fresh store's first
    // read now recovers the crash leftover
    ChainStore.forceUnlock(spark, root)
    val healed = new ChainStore(spark, root, 2).read("blocks").get.count()
    assert(healed == total)
    assert(!Files.exists(dir.resolve(".aside-bucket=1")))
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
    Files.write(Paths.get(root, "_writer.lock"), "pid1@other:feed".getBytes("UTF-8"))

    val reader = new ChainStore(spark, root, 2)
    assert(reader.read("blocks").get.count() == 5)
    // the foreign writer drops block 5 as a new file into bucket=2,
    // which already holds block 4
    val (blocks, _, _) = Ingest.flatten(SimChain.canonical(6).toDF())
    val staged = Files.createTempDirectory("foreign-file")
    blocks.filter(col("block_number") === 5).coalesce(1)
      .write.mode("overwrite").parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, Paths.get(root, "blocks", "bucket=2", "part-foreign.parquet"))
    val heights = reader.read("blocks").get.select("block_number").collect().map(_.getLong(0))
    assert(heights.sorted.toSeq == (0L to 5L), "the reader must re-list, not reuse a frame")
  }
}
