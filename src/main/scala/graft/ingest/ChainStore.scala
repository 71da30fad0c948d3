package graft.ingest

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed chain store: the reference's PostgreSQL tables
  * (`blocks` / `transactions` / `logs`, `init.sql:13-63`) re-hosted on
  * immutable columnar storage.
  *
  * Physical design (the Spark substitute for the reference's 11
  * B-tree indexes, `init.sql:24,44-46,66-74`): each table is
  * partitioned by `bucket = block_number div bucketSize`, rows within
  * files arrive in block order, so block-range predicates prune at two
  * levels (partition dirs, then parquet row-group min/max). At 100 TB
  * this is the layout that keeps the flagship range+cursor queries
  * from scanning the chain.
  *
  * Reorg retraction (`src/db.rs:34-50`) on immutable files = delete
  * whole partitions above the fork bucket + rewrite the one straddling
  * bucket via temp-write-then-swap — O(bucketSize) work per reorg,
  * independent of chain length.
  *
  * Storage-schema note: U256 money/gas columns are decimal-string TEXT
  * (the reference's contract, `init.sql:18-20,34-38`). A root written
  * by a pre-TEXT version of this engine holds int64 parquet for those
  * columns and must be re-ingested — appending the new schema into an
  * old table directory would fail at scan time on the mixed types.
  */
class ChainStore(spark: SparkSession, root: String, bucketSize: Long = 100L) {
  require(bucketSize > 0)

  val Tables = Seq("blocks", "transactions", "logs")
  private def tablePath(t: String) = s"$root/$t"
  private val keyOf = Map("blocks" -> "block_hash", "transactions" -> "tx_hash", "logs" -> "id")

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Buckets appended to since their last compaction, per table —
    * lets [[compact]] visit O(recently touched) buckets instead of
    * O(chain length) (a long-lived ingester would otherwise pay one
    * driver round-trip per historical bucket every maintenance cycle).
    *
    * Persisted beside `indexer_status` as one empty marker file per
    * bucket (`_dirty/<table>/<bucket>`), so a RESTARTED ingester keeps
    * O(touched) maintenance instead of degrading to the `compactAll`
    * full sweep — at chain length N that sweep is O(N) driver
    * round-trips. The in-memory map is a write-through cache loaded
    * lazily from the marker directory; markers are written before the
    * data they cover (a crash between the two leaves a stale marker,
    * which [[compact]] skips harmlessly via its more-than-one-file check, never
    * a missed one). */
  private val dirtyBuckets =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]

  private def dirtyDir(table: String) = new Path(s"$root/_dirty/$table")

  private def dirtySet(table: String): scala.collection.mutable.Set[Long] = synchronized {
    dirtyBuckets.getOrElseUpdate(table, {
      val d = dirtyDir(table)
      val loaded =
        if (fs.exists(d))
          fs.listStatus(d).flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
        else Array.empty[Long]
      scala.collection.mutable.Set(loaded.toSeq: _*)
    })
  }

  private def markDirty(table: String, lo: Long, hi: Long): Unit = {
    val set = dirtySet(table)
    (lo / bucketSize to hi / bucketSize).foreach { b =>
      if (set.add(b)) fs.create(new Path(dirtyDir(table), b.toString), true).close()
    }
  }

  private def clearDirty(table: String, bucket: Long): Unit =
    if (dirtySet(table).remove(bucket))
      fs.delete(new Path(dirtyDir(table), bucket.toString), false)

  /** Swap a freshly-written bucket directory into place. `rename` is
    * atomic on HDFS/local, so the bucket's data exists in either the
    * aside copy or the live path at every instant — a crash between the
    * two renames cannot lose it (the delete-then-rename it replaces
    * could). A concurrent reader can still transiently miss the bucket
    * between the renames; [[recoverSwaps]] (run once per table per
    * process before any append/read/rollback/compact, via
    * [[ensureRecovered]]) heals any half-finished swap left by a
    * crash. */
  private def swapBucket(dir: Path, live: Path, tmp: Path): Unit = rootMonitor.synchronized {
    val aside = new Path(dir, s".aside-${live.getName}")
    if (fs.exists(aside)) fs.delete(aside, true)
    // rename signals failure BOTH ways (false return or exception);
    // an in-process failure between the two renames must restore the
    // aside copy HERE — the once-per-process recovery has already run
    // and will not run again, so leaving the bucket hidden would let
    // a later append recreate it and the next process's recovery
    // delete the aside copy as superseded.
    if (!fs.rename(live, aside))
      throw new java.io.IOException(s"could not set aside $live")
    val swapped =
      try fs.rename(tmp, live)
      catch { case e: Throwable => restoreAside(aside, live); throw e }
    if (!swapped) {
      restoreAside(aside, live)
      throw new java.io.IOException(s"could not swap $tmp into $live")
    }
    fs.delete(aside, true)
  }

  private def restoreAside(aside: Path, live: Path): Unit =
    if (!fs.exists(live) && fs.exists(aside)) fs.rename(aside, live)

  /** Crash recovery for [[swapBucket]]: a leftover `.aside-bucket=N`
    * whose live bucket is missing is renamed back; one whose live
    * bucket exists was already superseded and is dropped.
    *
    * MUST run before the first append/read/rollback/compact of a table
    * in this process — not just before rollback/compact. Otherwise a
    * crash mid-swap (live renamed aside, tmp never renamed in)
    * followed by a normal append would recreate the live bucket with
    * only the new rows, and the next recovery would see both paths
    * present, assume the swap completed, and delete the aside copy —
    * permanently losing the bucket's pre-crash rows (and until then,
    * reads would silently miss the bucket). [[ensureRecovered]] makes
    * every entry point run it once per table per process; within a
    * process [[swapBucket]] is synchronous, so once is enough. */
  private def recoverSwaps(table: String): Unit =
    if (exists(table)) {
      val dir = new Path(tablePath(table))
      fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith(".aside-")).foreach { aside =>
          val live = new Path(dir, aside.getName.stripPrefix(".aside-"))
          if (fs.exists(live)) fs.delete(aside, true)
          else fs.rename(aside, live)
        }
    }

  // ---- single-writer guard -------------------------------------------
  // The swap/recovery protocol above is crash-safe for ONE writer
  // process; two concurrent writers could interleave set-aside renames
  // and each other's recovery sweeps (writer B's recoverSwaps seeing
  // writer A mid-swap would "heal" a swap that is still in flight).
  // The reference inherits single-writer-per-row from Postgres
  // transactions; here an exclusive lock file makes the contract
  // explicit: the first mutating call takes `_writer.lock`, a second
  // store on the same root fails fast instead of corrupting buckets.

  private def lockPath = new Path(s"$root/_writer.lock")
  @volatile private var lockHeld = false

  /** Whether this store object writes the root: only then does
    * [[mutationCount]] move with every change to the store's answers. */
  private[graft] def holdsWriterLock: Boolean = lockHeld

  // normalized key: "/data/store", "/data/store/" and "file:///data/store"
  // resolve to the SAME lock file, so they must share one monitor too
  private val rootKey = fs.makeQualified(new Path(root)).toString
  private val rootMonitor = ChainStore.monitorFor(rootKey)

  /** Acquire the exclusive writer lock (once per store). The lock is
    * PROCESS-scoped: a lock already held by this JVM (e.g. a restarted
    * store object over the same root, the standard crash-replay test
    * shape) is adopted re-entrantly; a lock held by another process
    * throws [[ChainStore.ConcurrentWriterException]]. A writer that
    * crashed without [[close]] leaves the file behind — an operator
    * (or orchestrator that knows the process is gone) clears it with
    * [[ChainStore.forceUnlock]]. */
  private def ensureWriteLock(): Unit = synchronized {
    if (!lockHeld) {
      // under the root monitor: two stores over the same root racing
      // their FIRST mutation in one JVM must not both pass the exists
      // check and then collide on create — the loser would throw a
      // spurious ConcurrentWriterException against its own process.
      rootMonitor.synchronized {
        if (fs.exists(lockPath)) {
          val holder = ChainStore.lockHolder(fs, lockPath)
          if (!holder.contains(ChainStore.processToken))
            throw new ChainStore.ConcurrentWriterException(
              s"$root is locked by writer ${holder.getOrElse("?")}; " +
                "one writer process per store root (forceUnlock only if it is dead)")
        } else {
          var created = false
          try {
            val out = fs.create(lockPath, false) // no-overwrite create: atomic on HDFS
            created = true
            out.write(ChainStore.processToken.getBytes("UTF-8"))
            out.close()
          } catch {
            case e: java.io.IOException if created =>
              // WE created the file but writing our token into it
              // failed (disk full, quota, transient FS error). This is
              // not a concurrency event: remove the half-written lock —
              // with empty content no process (including a clean
              // restart of this one) could ever match the holder, a
              // permanent lockout — and surface the real I/O failure.
              try fs.delete(lockPath, false)
              catch { case _: java.io.IOException => () } // best effort
              throw new java.io.IOException(
                s"$root writer lock created but token write failed", e)
            case e: java.io.IOException =>
              // On the local FS create(overwrite=false) is check-then-
              // create, so a cross-PROCESS race can land here even when
              // our own process already owns the lock via another path;
              // re-read before declaring a foreign writer.
              if (!ChainStore.lockHolder(fs, lockPath)
                    .contains(ChainStore.processToken))
                throw new ChainStore.ConcurrentWriterException(
                  s"$root writer lock lost the creation race: ${e.getMessage}")
          }
        }
      }
      lockHeld = true
      // a routine (non-crash) exit must not strand the lock and force a
      // manual forceUnlock before the next run: release it on shutdown.
      // One JVM-wide hook per root (not per instance).
      ChainStore.registerLockRelease(rootKey, () => fs, lockPath)
    }
  }

  /** Release the writer lock so another process can ingest. Reads need
    * no lock and keep working. The lock is process-scoped, so this
    * means "this PROCESS is done writing": other store objects in the
    * same JVM that adopted the lock must stop mutating too (their next
    * mutation would otherwise run unlocked while a new process takes
    * over). */
  def close(): Unit = synchronized {
    if (lockHeld) {
      // under the root monitor so the release hook's holder-check +
      // delete cannot interleave with ours, and with the SAME holder
      // re-check: after a sibling store's close() already released the
      // process lock, a NEW process may have acquired it — deleting
      // unconditionally here would strip that live writer's lock.
      rootMonitor.synchronized {
        if (ChainStore.lockHolder(fs, lockPath).contains(ChainStore.processToken))
          fs.delete(lockPath, false): Unit
      }
      lockHeld = false
    }
  }

  private val recoveredTables = scala.collection.mutable.Set.empty[String]

  /** Synchronized: the REST layer's request pool reaches [[read]]
    * concurrently (one facade resolution per request), and neither a
    * mutable.Set nor two racing [[recoverSwaps]] rename sweeps are
    * safe unguarded.
    *
    * A process that does NOT hold the writer lock must not recover
    * while another process's lock is present: a `.aside-` entry then
    * may be a LIVE writer's swap in flight, and "healing" it would
    * race the writer's second rename — exactly the interleaving the
    * lock exists to prevent. With a foreign lock present, the sweep is
    * skipped (a hidden bucket is the documented transient-read caveat;
    * crash leftovers heal after the operator clears the dead lock) and
    * retried on the next entry. */
  private def ensureRecovered(table: String): Unit = rootMonitor.synchronized {
    if (!recoveredTables.contains(table)) {
      if (!lockHeld && fs.exists(lockPath) &&
          !ChainStore.lockHolder(fs, lockPath).contains(ChainStore.processToken)) {
        () // foreign writer alive (or dead but not yet force-unlocked)
      } else {
        recoverSwaps(table)
        recoveredTables += table
      }
    }
  }

  def exists(table: String): Boolean = fs.exists(new Path(tablePath(table)))

  /** Resolved frames per table, each stamped with the [[fileSet]]
    * version read before it was resolved. */
  private val frames = new java.util.concurrent.ConcurrentHashMap[String, (Long, DataFrame)]()
  private val fileSet = ChainStore.fileSetFor(rootKey)

  /** Bump the root's file-set version on entry and on exit of `f`, the
    * same pattern as [[mutationCount]]: a frame resolved before or
    * during `f` carries a stamp older than the settled version. This
    * store's own frames are dropped at once rather than held until the
    * next read replaces them. */
  private def changingFiles[T](f: => T): T = {
    fileSet.incrementAndGet(): Unit
    frames.clear()
    try f finally fileSet.incrementAndGet(): Unit
  }

  /** Read a table. The physical `bucket` partition column stays in the
    * frame, stamped with [[graft.plans.BucketPruneRule]] metadata
    * recording the layout invariant (`bucket = block_number div
    * bucketSize`): any reader predicate on block_number then prunes at
    * the partition-directory level, not just row-group min/max — a
    * point lookup over a 100 TB chain touches one bucket directory
    * instead of listing them all. The rule fires on a Filter whose
    * child still carries the marked column, so a consumer must filter
    * on height before it projects `bucket` away: after such a
    * projection the filter prunes row groups but opens every bucket
    * (see [[graft.api.LogsQuery.plan]]). Once filtered, projecting it
    * away loses nothing (the column prunes out of the scan).
    *
    * Re-read contract: resolving a frame lists the bucket directories
    * (a Spark job past 32 of them) and reads a parquet footer for the
    * schema (another job), and its file index stays frozen after that.
    * While this store holds the writer lock, every change to the
    * root's files in this JVM ([[append]], [[rollback]], compaction,
    * by any store object over the root) bumps one shared version, so
    * the resolved frame is returned until that version moves. A store
    * without the lock has no signal from a foreign writer and
    * resolves afresh on every call. */
  def read(table: String): Option[DataFrame] =
    if (exists(table)) {
      ensureRecovered(table)
      val v = fileSet.get()
      Option(frames.get(table)).filter(f => lockHeld && f._1 == v).map(_._2).orElse {
        val meta = graft.plans.BucketPruneRule.bucketMetadata("block_number", bucketSize)
        val df = spark.read.parquet(tablePath(table))
          .withColumn("bucket", col("bucket").as("bucket", meta))
        if (lockHeld) frames.put(table, (v, df))
        Some(df)
      }
    } else None

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", expr(s"block_number div $bucketSize"))

  /** I-12: checkpoint state — max ingested height (None on empty store). */
  def lastSyncedBlock: Option[Long] =
    read("blocks").flatMap { b =>
      b.agg(max(col("block_number"))).collect().headOption
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    }

  /** Q-10: stored hash at a height. */
  def hashAt(height: Long): Option[String] =
    read("blocks").flatMap { b =>
      b.filter(col("block_number") === height).select(col("block_hash"))
        .limit(1).collect().headOption.map(_.getString(0))
    }

  /** In-process mutation version: bumped by every call that can change
    * a QUERY ANSWER ([[append]], [[rollback]]) — the invalidation
    * signal a co-located serving cache ([[graft.api.LookupCache]])
    * keys its entries on. Bumped on ENTRY **and** EXIT of each
    * mutator: a concurrent lookup that reads the version mid-mutation
    * and computes against half-written state would otherwise cache
    * its (possibly inconsistent) answer under the post-entry version
    * and serve it stale until the NEXT mutation; the exit bump
    * guarantees any answer computed before or during a mutation
    * carries a version older than the settled state's. Compaction
    * rewrites bytes, not answers, and does not bump. Cross-process
    * readers see no signal (the counter is this JVM's) and must serve
    * uncached. */
  def mutationCount: Long = mutations.get()
  private val mutations = new AtomicLong()

  /** Q-20 / I-11: idempotent append of one flattened batch — the
    * reference's `INSERT ... ON CONFLICT (key) DO NOTHING`. Rows are
    * de-duplicated on the table's key within the batch, and a key
    * already stored at a height ≥ the batch's lowest is skipped, so a
    * replayed batch writes nothing twice.
    *
    * The cost is O(batch), never O(store):
    *  - one Spark job, one task, collects every table's height range
    *    and its largest bucket's row count, which sizes the key bloom
    *    filters (see [[keyBloom]]);
    *  - the stored keys to anti-join against are read from an explicit
    *    file list — the `.parquet` files of the bucket directories at
    *    or above the batch's lowest bucket, listed on the driver — so
    *    resolving them runs no listing or footer job;
    *  - each table's dedup, anti-join, sort and partitioned write run
    *    in one task of one job, after a small job that broadcasts the
    *    stored keys (when there are any): a micro-batch is bounded by
    *    the source's batch size, like the header collect, and each
    *    append leaves one file per bucket it touches.
    *
    * Dirty-bucket markers are written before the data they cover (see
    * [[dirtyBuckets]]). A table whose incoming frame is empty is not
    * written. */
  def append(blocks: DataFrame, transactions: DataFrame, logs: DataFrame): Unit = {
    ensureWriteLock()
    mutations.incrementAndGet(): Unit
    try changingFiles(appendImpl(blocks, transactions, logs))
    finally mutations.incrementAndGet(): Unit
  }

  private def appendImpl(blocks: DataFrame, transactions: DataFrame,
                         logs: DataFrame): Unit = {
    val dfs = Seq("blocks" -> blocks, "transactions" -> transactions, "logs" -> logs)
    dfs.foreach { case (t, _) => ensureRecovered(t) }
    // per (table, bucket): in-batch dedup moves neither height bound,
    // and a bucket's incoming rows bound the rows of the file it gets
    val perBucket = dfs
      .map { case (t, df) => df.select(lit(t).as("t"), col("block_number")) }
      .reduce(_ unionByName _).coalesce(1)
      .groupBy(col("t"), expr(s"block_number div $bucketSize"))
      .agg(min("block_number"), max("block_number"), count(lit(1))).collect()
    val ranges: Map[String, (Long, Long, Long)] =
      perBucket.groupBy(_.getString(0)).map { case (t, rs) =>
        t -> ((rs.map(_.getLong(2)).min, rs.map(_.getLong(3)).max, rs.map(_.getLong(4)).max))
      }
    dfs.foreach { case (t, incoming) =>
      ranges.get(t).foreach { case (lo, hi, maxRows) =>
        markDirty(t, lo, hi)
        val key = keyOf(t)
        // one partition: the aggregate needs no exchange, and the small
        // stored side broadcasts, so the join needs none either
        val deduped = incoming.coalesce(1).dropDuplicates(key)
        val fresh = storedFiles(t, lo / bucketSize) match {
          case Seq() => deduped
          case files =>
            val stored = spark.read
              .schema(incoming.select(col("block_number"), col(key)).schema)
              .option("basePath", tablePath(t)).parquet(files: _*)
              .filter(col("block_number") >= lo).select(col(key))
            deduped.join(stored, Seq(key), "left_anti")
        }
        // sort within files by (block_number, key) — the substitute for
        // the reference's composite B-trees: row-group min/max stats stay
        // tight, so range + cursor predicates prune inside partitions too.
        // `bucket` leads because the partitioned writer needs its rows
        // grouped by it; it is monotone in block_number, so the order
        // is the same.
        withBucket(fresh)
          .sortWithinPartitions(col("bucket"), col("block_number"), col(key))
          .write.mode(SaveMode.Append).options(keyBloom(key, maxRows))
          .partitionBy("bucket").parquet(tablePath(t))
      }
    }
  }

  /** Write options for a bloom filter on the table's key, sized for
    * `maxRows` distinct keys per file. Without a size parquet writes a
    * 1 MiB filter into every file, ~40× the bytes of the rows a
    * 100-block bucket holds.
    * The point lookups ([[graft.api.Lookups]]) push their hash equality
    * to parquet, which reads this filter to skip a file; the append's
    * anti-join does not use it. */
  private def keyBloom(key: String, maxRows: Long): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$key" -> "true",
    s"parquet.bloom.filter.expected.ndv#$key" -> math.max(1L, maxRows).toString)

  /** Rows in the given parquet files, from their footers alone: read on
    * the driver, no Spark job. */
  private def footerRows(files: Seq[Path]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq

  /** The numbers of a table's `bucket=` directories, ascending, listed
    * on the driver (no Spark job). The listing holds the root monitor,
    * so it never catches a [[swapBucket]] between its two renames, when
    * the live directory is missing. */
  private[graft] def buckets(table: String): Seq[Long] = rootMonitor.synchronized {
    if (!exists(table)) Seq.empty
    else fs.listStatus(new Path(tablePath(table))).map(_.getPath.getName)
      .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toLong).toSeq.sorted
  }

  private def bucketPath(table: String, b: Long) = new Path(tablePath(table), s"bucket=$b")

  /** The `.parquet` files of a table's bucket directories numbered
    * `fromBucket` or above, listed on the driver. */
  private def storedFiles(table: String, fromBucket: Long): Seq[String] =
    buckets(table).filter(_ >= fromBucket)
      .flatMap(b => parquetFiles(bucketPath(table, b))).map(_.toString)

  /** Q-21 / I-10: delete every row with `block_number >= forkHeight`
    * across all tables, children first (`src/db.rs:34-50`). */
  def rollback(forkHeight: Long): Unit = {
    ensureWriteLock()
    mutations.incrementAndGet(): Unit
    try changingFiles(rollbackImpl(forkHeight))
    finally mutations.incrementAndGet(): Unit
  }

  private def rollbackImpl(forkHeight: Long): Unit = {
    val forkBucket = forkHeight / bucketSize
    // children first: logs, transactions, then blocks
    Seq("logs", "transactions", "blocks").foreach { t =>
      if (exists(t)) {
        ensureRecovered(t)
        val dir = new Path(tablePath(t))
        buckets(t).foreach { b =>
          val p = bucketPath(t, b)
          if (b > forkBucket) {
            fs.delete(p, true)
          } else if (b == forkBucket) {
            val kept = spark.read.parquet(p.toString)
              .filter(col("block_number") < forkHeight)
            val tmp = new Path(dir, s".tmp-rollback-bucket-$b")
            if (kept.isEmpty) fs.delete(p, true)
            else {
              kept.write.mode(SaveMode.Overwrite)
                .options(keyBloom(keyOf(t), footerRows(parquetFiles(p))))
                .parquet(tmp.toString)
              swapBucket(dir, p, tmp)
            }
          }
        }
        // retracted buckets can't need compaction; the straddling
        // bucket was just rewritten to one file, so its (possible)
        // marker is stale-but-harmless either way
        dirtySet(t).filter(_ > forkBucket).toSeq.foreach(clearDirty(t, _))
      }
    }
  }

  /** Small-file compaction: every micro-batch append leaves one file
    * per bucket it touched, so a bucket ingested across B cycles holds
    * B small files — the classic streaming-sink problem at scale.
    * Rewrites multi-file buckets into one sorted file via
    * temp-write-then-swap (crash-safe, see [[swapBucket]]), with a key
    * bloom filter sized by the row counts in the input files' footers
    * (no Spark job: compaction keeps every row).
    *
    * Only buckets appended to since their last compaction are visited
    * (the persisted dirty set, which survives process restarts): any
    * ingester — long-lived or freshly restarted — pays O(touched)
    * driver round-trips per maintenance cycle, not O(chain length).
    * [[compactAll]] remains for offline maintenance of stores written
    * before the marker directory existed. */
  def compact(table: String): Unit =
    compactBuckets(table, Some(dirtySet(table).toSet))

  /** Full-sweep compaction over every bucket (offline maintenance /
    * fresh process with no dirty history). */
  def compactAll(table: String): Unit = compactBuckets(table, None)

  private def compactBuckets(table: String, only: Option[Set[Long]]): Unit = {
    ensureWriteLock()
    // a frame resolved before the swap lists files the swap deletes
    if (exists(table) && !only.exists(_.isEmpty)) changingFiles {
      val key = keyOf(table)
      ensureRecovered(table)
      val dir = new Path(tablePath(table))
      // the dirty set names its buckets: only the full sweep lists the
      // table (a marker can outlive its bucket, e.g. after a rollback)
      only.map(_.toSeq.sorted).getOrElse(buckets(table)).foreach { b =>
        val p = bucketPath(table, b)
        val files = if (fs.exists(p)) parquetFiles(p) else Seq.empty
        if (files.size > 1) {
          val rows = spark.read.parquet(p.toString)
          val tmp = new Path(dir, s".tmp-compact-${p.getName}")
          rows.coalesce(1)
            .sortWithinPartitions(col("block_number"), col(key))
            .write.mode(SaveMode.Overwrite).options(keyBloom(key, footerRows(files)))
            .parquet(tmp.toString)
          swapBucket(dir, p, tmp)
        }
        clearDirty(table, b)
      }
    }
  }

  /** Q-19: the reference's `indexer_status` single-row upsert
    * (`ON CONFLICT DO UPDATE`, `src/db.rs:53-77`) — last-writer-wins
    * overwrite of a one-row table. */
  def writeStatus(lastProcessedBlock: Long, chainHeadAtLastPoll: Long): Unit = {
    ensureWriteLock()
    import spark.implicits._
    Seq((lastProcessedBlock, chainHeadAtLastPoll))
      .toDF("last_processed_block", "chain_head_at_last_poll")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/indexer_status")
  }

  /** Deep-reorg repair marker: set when a detected fork height falls
    * below the triggering batch's own range, i.e. the store was rolled
    * back past blocks the batch cannot re-supply. The source reads it
    * (plain text, one height) and extends its re-serve window down to
    * this height so the next cycle re-ingests from the hole — the
    * batch-native analog of the reference's refetch-from-rollback-
    * height next cycle (`src/main.rs:166-189`). Cleared once an
    * appended batch covers the marked height again. */
  def writeRepairFrom(from: Long, width: Long = 1L): Unit = {
    ensureWriteLock()
    val out = fs.create(new Path(s"$root/_repair_from"), true)
    try out.write(s"$from $width".getBytes("UTF-8")) finally out.close()
  }

  /** (serve-from height, current widening reach), None when no repair
    * is pending. */
  def readRepairFrom: Option[(Long, Long)] = {
    val p = new Path(s"$root/_repair_from")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try ChainStore.parseRepairMarker(
        new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  def clearRepairFrom(): Unit = {
    ensureWriteLock()
    fs.delete(new Path(s"$root/_repair_from"), false): Unit
  }

  /** (last_processed_block, chain_head_at_last_poll), None before
    * first ingest — `src/db.rs:8-15`. */
  def readStatus: Option[(Long, Long)] =
    if (fs.exists(new Path(s"$root/indexer_status")))
      spark.read.parquet(s"$root/indexer_status").collect().headOption
        .map(r => (r.getLong(0), r.getLong(1)))
    else None

  /** I-9: incoming block's parent must match the stored hash at
    * height-1; absent parent is OK (cold start / gap,
    * `src/main.rs:171-175`). Returns the fork height when a reorg is
    * detected. */
  def detectReorg(height: Long, parentHash: String): Option[Long] =
    hashAt(height - 1) match {
      case Some(stored) if stored.toLowerCase != parentHash.toLowerCase => Some(height)
      case _ => None
    }
}

object ChainStore {
  /** Process-wide per-root monitor: bucket swaps and recovery sweeps
    * across ALL store objects in this JVM serialize on it. The writer
    * lock is process-scoped, so two objects over the same root in one
    * JVM share it legally — without this monitor, object B's first-read
    * recovery could heal object A's swap mid-flight (rename-aside seen,
    * rename-in not yet done) exactly as a foreign process could. */
  private val rootMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[ingest] def monitorFor(rootKey: String): Object =
    rootMonitors.computeIfAbsent(rootKey, _ => new Object)

  /** Process-wide per-root file-set version, keyed like [[monitorFor]]:
    * a mutation through any store object over the root invalidates the
    * frames every sibling object has resolved. */
  private val fileSets =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private[ingest] def fileSetFor(rootKey: String): AtomicLong =
    fileSets.computeIfAbsent(rootKey, _ => new AtomicLong())

  /** One lock-release hook per root per JVM, via Hadoop's shutdown
    * manager at a priority ABOVE the FileSystem cache close (plain
    * Runtime hooks run in arbitrary order, so the FS could already be
    * closed and the release would strand the lock silently). The body
    * takes the root monitor — an in-flight bucket swap finishes before
    * the lock drops, and the holder re-check under the same monitor as
    * [[ChainStore.close]] cannot delete a NEW process's lock. Failures
    * are logged, not swallowed: a stranded lock needs an operator. */
  private val releaseHooks =
    new java.util.concurrent.ConcurrentHashMap[String, Runnable]()
  private[ingest] def registerLockRelease(rootKey: String,
      fsf: () => org.apache.hadoop.fs.FileSystem, lock: Path): Unit = {
    releaseHooks.computeIfAbsent(rootKey, _ => {
      val r: Runnable = () => monitorFor(rootKey).synchronized {
        try {
          val fs = fsf()
          if (lockHolder(fs, lock).contains(processToken))
            fs.delete(lock, false)
          ()
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[chainstore] writer-lock release failed for $rootKey " +
                s"(forceUnlock before the next run): ${e.getMessage}")
        }
      }
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        r, org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 40)
      r
    })
    ()
  }

  /** One token per JVM: every store this process opens writes the same
    * holder id, so restarts within a process re-acquire while a second
    * PROCESS fails fast. */
  private[ingest] val processToken: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName + ":" +
      java.util.UUID.randomUUID().toString

  /** Thrown when a second writer process tries to mutate a store root
    * that another live writer has locked. */
  final class ConcurrentWriterException(msg: String)
      extends IllegalStateException(msg)

  private[ingest] def lockHolder(fs: org.apache.hadoop.fs.FileSystem,
                                 lock: Path): Option[String] =
    scala.util.Try {
      val in = fs.open(lock)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }.toOption

  /** Clear a lock left by a writer that died without [[ChainStore.close]].
    * ONLY safe when that process is known to be gone — with it alive,
    * this reintroduces exactly the interleaving the lock prevents. */
  def forceUnlock(spark: SparkSession, root: String): Unit = {
    val p = new Path(s"$root/_writer.lock")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false): Unit
  }

  /** Single owner of the `_repair_from` marker wire format
    * (`"<serve-from-height> <widening-reach>"`, width defaulting
    * to 1) — [[ChainStore.readRepairFrom]] and the DSv2 source's
    * repair-window reader both parse through here, so a format change
    * cannot silently desynchronize them. */
  def parseRepairMarker(txt: String): Option[(Long, Long)] = {
    val t = txt.trim
    if (t.isEmpty) None
    else {
      val parts = t.split("\\s+")
      Some((parts(0).toLong, if (parts.length > 1) parts(1).toLong else 1L))
    }
  }
}
