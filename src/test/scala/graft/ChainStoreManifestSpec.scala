package graft

import java.nio.file.{Files, Path => JPath, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{ChainStore, SimChain, StreamingIngester}

/** The manifest-committed [[ChainStore]]: what resolving, status and
  * compaction cost in Spark jobs; that a crash at any file-system step
  * of a commit leaves the version before or the one after; and that a
  * reader scanning while the writer commits sees only committed
  * states. */
class ChainStoreManifestSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def newRoot(name: String) = Files.createTempDirectory(name).toString

  private def ingest(store: ChainStore, blocks: Seq[SimChain.SimBlock]): Unit =
    StreamingIngester.processBatch(store, blocks.toDF())

  private def jobsOf[T](f: => T): (T, Int) = {
    val counter = new JobCounter(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      val before = counter.settle()
      val answer = f
      (answer, counter.settle() - before)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  private val keyOf = Map("blocks" -> "block_hash", "transactions" -> "tx_hash", "logs" -> "id")

  /** (table, height, key) of every row the chain puts in the store. */
  private def rowsOf(chain: Seq[SimChain.SimBlock]): Seq[(String, Long, String)] =
    chain.flatMap { b =>
      ("blocks", b.block_number, b.block_hash) +: b.transactions.flatMap { t =>
        ("transactions", b.block_number, t.tx_hash) +: t.logs.map(l => ("logs", b.block_number,
          (b.block_number * 1000000 + t.tx_index_in_block * 1000 + l.log_index_in_tx).toString))
      }
    }.sorted

  /** The same for what a store's frames hold, in one Spark job. */
  private def rowsIn(store: ChainStore): Seq[(String, Long, String)] =
    store.Tables.flatMap(t => store.read(t).map(_.select(lit(t), col("block_number"), col(keyOf(t)).cast("string"))))
      .reduceOption(_ union _).toSeq
      .flatMap(_.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))).sorted

  test("resolving a table past 32 buckets runs 0 Spark jobs, in the writer and in a reader-only store") {
    val root = newRoot("manifest-resolve")
    val store = new ChainStore(spark, root, bucketSize = 2)
    ingest(store, SimChain.canonical(68)) // 34 buckets per table
    store.Tables.foreach { t =>
      val (frame, jobs) = jobsOf(store.read(t))
      assert(frame.isDefined && jobs == 0, s"the writer resolved $t with $jobs Spark jobs")
    }
    val reader = new ChainStore(spark, root, bucketSize = 2)
    store.Tables.foreach { t =>
      val (frame, jobs) = jobsOf(reader.read(t))
      assert(frame.isDefined && jobs == 0, s"a reader-only store resolved $t with $jobs Spark jobs")
    }
    val blocks = reader.read("blocks").get
    assert(blocks.count() == 68 && blocks.filter(col("block_number") === 57).count() == 1)
  }

  test("writeStatus, readStatus and lastSyncedBlock each run 0 Spark jobs") {
    val store = new ChainStore(spark, newRoot("manifest-status"), bucketSize = 5)
    ingest(store, SimChain.canonical(12))
    val (_, writeJobs) = jobsOf(store.writeStatus(11L, 20L))
    val (status, readJobs) = jobsOf(store.readStatus)
    val (tip, tipJobs) = jobsOf(store.lastSyncedBlock)
    assert(writeJobs == 0 && readJobs == 0 && tipJobs == 0,
      s"writeStatus $writeJobs, readStatus $readJobs, lastSyncedBlock $tipJobs Spark jobs")
    assert(status.contains((11L, 20L)) && tip.contains(11L))
  }

  test("compacting one multi-file bucket per table runs 1 Spark job per table") {
    val store = new ChainStore(spark, newRoot("manifest-compact"), bucketSize = 10)
    val chain = SimChain.canonical(8)
    ingest(store, chain.take(4))
    ingest(store, chain.drop(4)) // bucket 0 of every table holds two files
    val before = rowsIn(store)
    store.Tables.foreach { t =>
      assert(store.liveFiles(t).size == 2, s"$t: two files before compaction")
      val (_, jobs) = jobsOf(store.compact(t))
      assert(jobs == 1, s"compacting $t ran $jobs Spark jobs")
      assert(store.liveFiles(t).size == 1, s"$t: one file after compaction")
    }
    assert(rowsIn(store) == before && before == rowsOf(chain))
  }

  test("a root with chain tables but no manifest fails fast with a re-ingest message") {
    val root = newRoot("manifest-old")
    Files.createDirectories(Paths.get(root, "blocks", "bucket=0"))
    val e = intercept[IllegalStateException](new ChainStore(spark, root, 10).read("blocks"))
    assert(e.getMessage.contains("re-ingest"))
    intercept[IllegalStateException](ingest(new ChainStore(spark, root, 10), SimChain.canonical(2)))
  }

  /** A store whose garbage collector reads the clock the test sets. */
  private class ClockedStore(root: String, bucketSize: Long, start: Long = 1000000L)
      extends ChainStore(spark, root, bucketSize) {
    @volatile var clock: Long = start
    override protected def now(): Long = clock
  }

  test("a dropped file stays readable through the grace period, then a commit deletes it; the writer removes crash leftovers") {
    val root = newRoot("manifest-gc")
    val store = new ClockedStore(root, 10)
    val chain = SimChain.canonical(8)
    ingest(store, chain.take(4))
    ingest(store, chain.drop(4))
    val pinned = store.read("logs").get
    val logs = rowsOf(chain).count(_._1 == "logs")
    store.Tables.foreach(store.compact)
    val dropped = store.droppedFiles
    assert(dropped.size == 6 && dropped.forall(f => Files.exists(Paths.get(f))))
    store.clock += ChainStore.GcGraceMs - 1
    store.writeStatus(7L, 7L)
    assert(pinned.count() == logs, "a frame resolved before the compaction still reads inside the grace period")
    assert(store.droppedFiles == dropped)
    store.clock += 1
    store.writeStatus(7L, 7L)
    assert(store.droppedFiles.isEmpty && dropped.forall(f => !Files.exists(Paths.get(f))))
    assert(rowsIn(store) == rowsOf(chain))
    // what a crashed write leaves: a data file no version names and a
    // manifest temp file; and the staging directory of a root written
    // before the store wrote its files in place
    val stray = Paths.get(root, "blocks", "bucket=0", "part-stray.parquet")
    Files.copy(Paths.get(store.liveFiles("blocks").head), stray)
    Files.createDirectories(Paths.get(root, "_staging", "x"))
    Files.write(Paths.get(root, "_manifest", "_tmp-99-x"), Array[Byte](1))
    val restarted = new ChainStore(spark, root, 10)
    ingest(restarted, SimChain.canonical(9).slice(6, 9))
    assert(!Files.exists(stray) && !Files.exists(Paths.get(root, "_staging")) &&
      !Files.exists(Paths.get(root, "_manifest", "_tmp-99-x")), "leftovers survived the writer's open")
    assert(rowsIn(restarted) == rowsOf(SimChain.canonical(9)))
  }

  // ---- crash points ---------------------------------------------------

  private val CrashBucket = 4L

  /** What a crash may leave visible: the rows, the status pair, the
    * live files per (table, bucket) and the dropped files. */
  private case class State(rows: Seq[(String, Long, String)], status: Option[(Long, Long)],
                           filesPerBucket: Map[String, Int], dropped: Set[String])

  /** The rows scanned per set of live files: a crash before the
    * commit leaves the files of the version before, whose rows are
    * known. */
  private val rowsByFiles = scala.collection.mutable.Map.empty[Set[String], Seq[(String, Long, String)]]

  private def stateOf(root: String): State = {
    val s = new ChainStore(spark, root, CrashBucket) // holds no lock: reads the newest version on disk
    def rel(p: String) = p.stripPrefix(root)
    val live = s.Tables.flatMap(s.liveFiles).map(rel)
    State(rowsByFiles.getOrElseUpdate(live.toSet, rowsIn(s)), s.readStatus,
      live.groupBy(p => new org.apache.hadoop.fs.Path(p).getParent.toString).map { case (b, fs) => b -> fs.size },
      s.droppedFiles.map(rel).toSet)
  }

  /** (the parquet files under the table directories, the files the
    * newest version names, live or dropped). */
  private def filesOf(dir: JPath): (Set[String], Set[String]) = {
    val s = new ChainStore(spark, dir.toString, CrashBucket)
    val named = (s.Tables.flatMap(s.liveFiles) ++ s.droppedFiles).map(p => Paths.get(p).toString).toSet
    val onDisk = Seq("blocks", "transactions", "logs").map(dir.resolve).filter(Files.exists(_))
      .flatMap(t => Files.walk(t).iterator().asScala.filter(_.toString.endsWith(".parquet")).map(_.toString))
    (onDisk.toSet, named)
  }

  private def unnamedFiles(dir: JPath): Set[String] = { val (onDisk, named) = filesOf(dir); onDisk -- named }

  /** Every parquet file under the table directories is named by the
    * newest version, live or dropped. */
  private def assertNoLeftovers(dir: JPath, step: String): Unit = {
    val (onDisk, named) = filesOf(dir)
    assert(onDisk == named, s"$step: unnamed files ${onDisk -- named}, missing ${named -- onDisk}")
    assert(!Files.exists(dir.resolve("_staging")), s"$step: staging left behind")
  }

  /** A root holding heights 0..7 of `chain` in two appends, so bucket 1
    * (heights 4..7) of every table holds two files: height 4, and 5..7. */
  private def twoAppendRoot(chain: Seq[SimChain.SimBlock]): JPath = {
    val root = Files.createTempDirectory("crash-template")
    val t = new ChainStore(spark, root.toString, CrashBucket)
    ingest(t, chain.take(5))
    ingest(t, chain.slice(5, 8))
    root
  }

  /** A copy of `template` under a new directory. */
  private def copyOf(template: JPath, name: String): JPath = {
    val dir = Files.createTempDirectory(name).resolve("root")
    copyTree(template, dir)
    dir
  }

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    }

  /** Runs `op` on copies of `template` with a crash at its
    * file-system steps. After each crash the store on disk must be in
    * one of `allowed` states, and `replay` must then reach `replayed`
    * with no unnamed file left. Returns (steps crashed at, steps).
    *
    * Every step the store's own code takes is crashed at: opening the
    * root, the manifest temp file and its rename, garbage collection
    * and cleanup. Of each run of steps inside Spark's writes (3 a
    * write: the data file, its bucket directory and the job's cleanup;
    * an append's three writes make one run), the first, the middle and
    * the last are crashed at, 34 of the four operations' 46 steps;
    * every such step leaves only files that no version names in the
    * buckets the write touches. GRAFT_CRASH_ALL=1 crashes at all 46
    * (~1 min on a 4-core VM). */
  private def crashEveryStep(name: String, template: JPath, op: ChainStore => Unit,
                             allowed: Seq[State], replay: ChainStore => Unit, replayed: State): (Int, Int) = {
    val work = Files.createTempDirectory(s"crash-$name")
    // a clock past every grace period: each commit collects what it may
    def store(dir: JPath) = new ClockedStore(s"crashfs://$dir", CrashBucket, start = Long.MaxValue / 2)
    val clean = work.resolve("clean")
    copyTree(template, clean)
    CrashFs.arm(Long.MaxValue)
    op(store(clean))
    val steps = CrashFs.disarm().toInt
    val ours = CrashFs.byProject
    assert(stateOf(clean.toString) == allowed.last, s"$name: a clean run must end in the after state")
    val chosen =
      if (sys.env.get("GRAFT_CRASH_ALL").contains("1")) (1 to steps)
      else {
        val runs = (1 to steps).foldLeft(Vector.empty[Vector[Int]]) { (acc, k) =>
          if (acc.nonEmpty && !ours(k - 1) && !ours(acc.last.last - 1)) acc.init :+ (acc.last :+ k)
          else acc :+ Vector(k)
        }
        runs.flatMap(r => Seq(r.head, r(r.size / 2), r.last).distinct)
      }
    chosen.foreach { k =>
      val dir = work.resolve(s"k$k")
      copyTree(template, dir)
      CrashFs.arm(k)
      val crashed = try { op(store(dir)); false } catch { case NonFatal(_) => true } finally CrashFs.disarm()
      assert(crashed, s"$name: no crash at step $k of $steps")
      val seen = stateOf(dir.toString)
      assert(allowed.contains(seen), s"$name: a crash at step $k of $steps left\n$seen")
      replay(store(dir))
      assert(stateOf(dir.toString) == replayed, s"$name: the replay after a crash at step $k")
      assertNoLeftovers(dir, s"$name, step $k")
    }
    (chosen.size, steps)
  }

  test("crash-point property: a crash at any file-system step of append, rollback, compaction or GC leaves the version before or after, and a replay lands the chain exactly once") {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val start = System.nanoTime()
    val chain = SimChain.canonical(11)
    val template = twoAppendRoot(chain)
    val base = stateOf(template.toString)
    assert(base.rows == rowsOf(chain.take(8)) && base.status.contains((7L, 7L)) && base.dropped.isEmpty)

    /** The state a clean run of `op` leaves on a copy of `from`. */
    def after(from: JPath)(op: ChainStore => Unit): State = {
      val dir = Files.createTempDirectory("crash-clean")
      copyTree(from, dir)
      op(new ChainStore(spark, dir.toString, CrashBucket))
      stateOf(dir.toString)
    }

    // a failed task logs its stack trace; a hundred of them say nothing
    spark.sparkContext.setLogLevel("OFF")
    try {
      // append: one processBatch is two commits, the rows then the status
      val batch = chain.slice(7, 11) // overlaps the stored tip
      val appended = after(template)(ingest(_, batch))
      assert(appended.rows == rowsOf(chain) && appended.status.contains((10L, 10L)))
      val appendSteps = crashEveryStep("append", template, ingest(_, batch),
        Seq(base, appended.copy(status = base.status), appended), ingest(_, batch), appended)

      // rollback to height 6, which the file of heights 5..7 straddles;
      // the replay rolls back again
      val rolled = after(template)(_.rollback(6))
      assert(rolled.rows == rowsOf(chain.take(6)) && rolled.status == base.status)
      val rollbackSteps = crashEveryStep("rollback", template, _.rollback(6), Seq(base, rolled),
        _.rollback(6), rolled)

      // compaction of one table
      val compacted = after(template)(_.compact("logs"))
      assert(compacted.rows == base.rows && compacted.dropped.size == 2)
      val compactSteps = crashEveryStep("compact", template, _.compact("logs"), Seq(base, compacted),
        _.compact("logs"), compacted)

      // garbage collection: a status commit past the grace period
      // deletes the files the compaction dropped
      val gcTemplate = Files.createTempDirectory("crash-gc-template")
      copyTree(template, gcTemplate)
      new ChainStore(spark, gcTemplate.toString, CrashBucket).compact("logs")
      val collected = compacted.copy(dropped = Set.empty)
      val gcSteps = crashEveryStep("gc", gcTemplate, _.writeStatus(7L, 7L), Seq(compacted, collected),
        _.writeStatus(7L, 7L), collected)
      info(s"crash points (crashed at, steps): append $appendSteps, rollback $rollbackSteps, " +
        s"compact $compactSteps, gc $gcSteps" + f" in ${(System.nanoTime() - start) / 1e9}%.0f s")
    } finally spark.sparkContext.setLogLevel("WARN")
  }

  test("a clean processBatch, rollback or compaction writes its files in place: it renames nothing " +
      "outside _manifest and takes a bounded number of file-system steps") {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val chain = SimChain.canonical(11)
    val template = twoAppendRoot(chain)
    // the bounds are the counts measured with in-place writes; through
    // a staging tree and Hadoop's rename committer, processBatch took
    // 55 steps, rollback 49 and compaction 21
    Seq[(String, ChainStore => Unit, Int)](
      ("processBatch", ingest(_, chain.slice(7, 11)), 17),
      ("rollback", _.rollback(6), 14),
      ("compaction", _.compact("logs"), 8)).foreach { case (name, op, bound) =>
      val dir = copyOf(template, s"inplace-$name")
      CrashFs.arm(Long.MaxValue)
      try op(new ChainStore(spark, s"crashfs://$dir", CrashBucket)) finally CrashFs.disarm()
      val steps = CrashFs.steps
      val renamed = steps.filter(_.op == "rename").map(_.path.toUri.getPath.stripPrefix(dir.toString))
      assert(renamed.nonEmpty && renamed.forall(_.startsWith("/_manifest/")),
        s"$name renamed outside _manifest: $renamed")
      // (open() still deletes the staging directory of an older root)
      assert(!steps.exists(s => s.op != "delete" &&
        Seq("_temporary", "_SUCCESS", "_staging").exists(s.path.toString.contains)),
        s"$name made a staging or committer file")
      assert(steps.size <= bound, s"$name took ${steps.size} file-system steps, bound $bound")
      info(s"$name: ${steps.size} file-system steps, ${renamed.size} renames")
    }
  }

  test("a write that fails inside Spark leaves no file behind, and the same store object's next " +
      "append lands the batch exactly once") {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val chain = SimChain.canonical(11)
    val template = twoAppendRoot(chain)
    val batch = chain.slice(7, 11)
    // the step that ends the first table's Spark write: the job's
    // cleanup, after the data file is complete
    val dry = copyOf(template, "fail-dry")
    CrashFs.arm(Long.MaxValue)
    try ingest(new ChainStore(spark, s"crashfs://$dry", CrashBucket), batch) finally CrashFs.disarm()
    val k = CrashFs.steps.indexWhere(s => s.op == "delete" && s.path.getName.startsWith(".spark-staging")) + 1
    assert(k > 0 && CrashFs.steps.take(k).exists(s => s.op == "create" && s.path.getName.endsWith(".parquet")),
      "sanity: the write's data file precedes its job cleanup")
    spark.sparkContext.setLogLevel("OFF")
    try Seq(true, false).foreach { transient =>
      val what = if (transient) "a transient fault" else "a fault that outlasts the write's own cleanup"
      val dir = copyOf(template, "fail-live")
      val store = new ChainStore(spark, s"crashfs://$dir", CrashBucket)
      if (transient) CrashFs.fault(k) else CrashFs.arm(k)
      val failed = try { ingest(store, batch); false } catch { case NonFatal(_) => true } finally CrashFs.disarm()
      assert(failed, s"$what: no failure at step $k")
      assert(rowsIn(store) == rowsOf(chain.take(8)), s"$what: the failed write must stay invisible")
      if (transient)
        assert(unnamedFiles(dir).isEmpty, s"$what: the failed write left ${unnamedFiles(dir)}")
      else assert(unnamedFiles(dir).nonEmpty, s"sanity, $what: the data file outlived the cleanup")
      ingest(store, batch)
      assert(rowsIn(store) == rowsOf(chain), s"$what: the next append must land the batch exactly once")
      assert(unnamedFiles(dir).isEmpty, s"$what: the next append left ${unnamedFiles(dir)}")
    } finally spark.sparkContext.setLogLevel("WARN")
  }

  test("the in-place committer is the store's alone: a plain parquet write on the shared session " +
      "still commits through the default committer") {
    val root = newRoot("inplace-scope")
    ingest(new ChainStore(spark, root, 10), SimChain.canonical(4))
    assert(!Files.walk(Paths.get(root)).iterator().asScala.exists(p =>
      p.getFileName.toString == "_SUCCESS" || p.toString.contains("_temporary")),
      "the store's writes must not go through the rename committer")
    val out = Files.createTempDirectory("plain-write").resolve("out")
    spark.range(3).write.parquet(out.toString)
    assert(Files.exists(out.resolve("_SUCCESS")), "a plain write must keep the default committer")
  }

  // ---- a reader under commits ---------------------------------------

  test("a reader scanning all three tables while the writer appends, compacts every batch and rolls back at random depths sees no error and only committed states") {
    val root = newRoot("manifest-reader-loop")
    val writer = new ChainStore(spark, root, bucketSize = 3)
    val readerOnly = new ChainStore(spark, root, bucketSize = 3)
    val rnd = new scala.util.Random(5)
    var model = SimChain.canonical(7).toVector
    ingest(writer, model)
    writer.Tables.foreach(writer.compact)
    // every state a commit may publish, registered before the commit
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Map[String, Seq[(Long, String)]]]()
    def register(chain: Seq[SimChain.SimBlock]): Unit =
      committed.add(rowsOf(chain).groupBy(_._1).map { case (t, rs) => t -> rs.map(r => (r._2, r._3)) })
    register(model)
    @volatile var done = false
    @volatile var failure: Option[Throwable] = None
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() => {
      try {
        while (!done) {
          val s = if (scans.get() % 2 == 0) writer else readerOnly
          writer.Tables.foreach { t =>
            val got = s.read(t).get.select(col("block_number"), col(keyOf(t)).cast("string")).collect()
              .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
            assert(committed.asScala.exists(_.getOrElse(t, Seq.empty) == got),
              s"$t: a scan saw rows no commit published (${got.size} rows up to ${got.lastOption})")
          }
          scans.incrementAndGet()
        }
      } catch { case e: Throwable => failure = Some(e) }
    })
    reader.start()
    try {
      var branch = 0
      (1 to 10).foreach { _ =>
        val batch =
          if (rnd.nextDouble() < 0.4) {
            branch += 1
            val h = math.max(1, model.length - 1 - rnd.nextInt(math.min(model.length - 1, 8)))
            val repl = SimChain.blocks(h, model.length + 1 + rnd.nextInt(3), salt = s"r$branch",
              parentOfFirst = Some(model(h - 1).block_hash))
            register(model.take(h)) // the rollback's commit
            model = model.take(h) ++ repl
            repl
          } else {
            val ext = SimChain.blocks(model.length, model.length + 1 + rnd.nextInt(4),
              salt = if (branch == 0) "main" else s"r$branch", parentOfFirst = Some(model.last.block_hash))
            model = model ++ ext
            ext
          }
        register(model)
        ingest(writer, batch)
        writer.Tables.foreach(writer.compact)
      }
      Thread.sleep(200) // a scan or two over the final version
    } finally {
      done = true
      reader.join(60000)
    }
    failure.foreach(throw _)
    assert(scans.get() >= 5, s"only ${scans.get()} scans ran")
    assert(rowsIn(writer) == rowsOf(model) && rowsIn(readerOnly) == rowsOf(model))
  }
}
