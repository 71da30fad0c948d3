package graft.ingest

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{JobContext, OutputCommitter, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, MetadataBuilder, StructType}

/** Parquet-backed chain store: the reference's PostgreSQL tables
  * (`blocks` / `transactions` / `logs`, `init.sql:13-63`) re-hosted on
  * immutable columnar storage.
  *
  * Physical design (the Spark substitute for the reference's 11
  * B-tree indexes, `init.sql:24,44-46,66-74`): each table is
  * partitioned by `bucket = block_number div bucketSize` into
  * parquet files under `<root>/<table>/bucket=<n>/`, rows within files arrive in
  * block order, so block-range predicates prune at two levels (bucket
  * directories, then parquet row-group min/max). At 100 TB this is the
  * layout that keeps the flagship range+cursor queries from scanning
  * the chain.
  *
  * A versioned manifest (`<root>/_manifest`, see [[ManifestLog]]) is
  * the only source of truth for which files the store holds: per
  * table, the live files by bucket with size, rows and height range;
  * the stored schemas; and the status pair. A file on disk that no
  * version names is not part of the store. Every mutation writes its
  * new parquet files straight into their bucket directories and then
  * commits them with one atomic rename of a manifest version, the only
  * rename it makes (Structured Streaming's file sink, SIGMOD 2018):
  *  - [[append]] is one commit covering all three tables;
  *  - [[rollback]] is one commit: it drops the buckets above the fork
  *    and rewrites the files that straddle it, O(bucketSize) work per
  *    reorg, independent of chain length;
  *  - each [[compact]] is one commit;
  *  - [[writeStatus]] is one commit written on the driver alone.
  * A crash at any step leaves the store at the version before the
  * commit or the one after it. Nothing is overwritten or renamed in
  * place, so a frame resolved at one version stays readable while
  * later commits land: a dropped file is deleted by a later commit
  * once [[ChainStore.GcGraceMs]] has passed. Files a failed write left
  * behind, which no version names, are removed by the write itself,
  * by the next write to their buckets, or, after a crash, when a
  * writer opens the root.
  *
  * Storage-schema note: U256 money/gas columns are decimal-string TEXT
  * (the reference's contract, `init.sql:18-20,34-38`). A root written
  * before the manifest (table directories, no `_manifest`) fails fast
  * and must be re-ingested, as must a root from a pre-TEXT version of
  * this engine.
  */
class ChainStore(spark: SparkSession, root: String, bucketSize: Long = 100L) {
  require(bucketSize > 0)

  val Tables = Seq("blocks", "transactions", "logs")
  private def tablePath(t: String) = s"$root/$t"
  private val keyOf = Map("blocks" -> "block_hash", "transactions" -> "tx_hash", "logs" -> "id")

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def log = new ManifestLog(fs, new Path(root, "_manifest"))

  /** Epoch milliseconds; the garbage collector's clock. */
  protected def now(): Long = System.currentTimeMillis()

  // ---- single-writer guard -------------------------------------------
  // Commits assume ONE writer process: two processes committing the
  // same version, or one removing the other's in-flight files as
  // leftovers, would corrupt the store. The reference inherits
  // single-writer-per-row from Postgres transactions; here an
  // exclusive lock file makes the contract explicit: the first
  // mutating call takes `_writer.lock`, a second store on the same
  // root fails fast instead.

  private def lockPath = new Path(s"$root/_writer.lock")
  @volatile private var lockHeld = false

  // normalized key: "/data/store", "/data/store/" and "file:///data/store"
  // resolve to the SAME lock file, so they must share one state too
  private val rootKey = fs.makeQualified(new Path(root)).toString
  private val shared = ChainStore.sharedFor(rootKey)

  /** Acquire the exclusive writer lock (once per store). The lock is
    * PROCESS-scoped: a lock already held by this JVM (e.g. a restarted
    * store object over the same root, the standard crash-replay test
    * shape) is adopted re-entrantly; a lock held by another process
    * throws [[ChainStore.ConcurrentWriterException]]. A writer that
    * crashed without [[close]] leaves the file behind — an operator
    * (or orchestrator that knows the process is gone) clears it with
    * [[ChainStore.forceUnlock]]. Taking the lock opens the root: the
    * newest manifest version is loaded and crash leftovers removed. */
  private def ensureWriteLock(): Unit = synchronized {
    if (!lockHeld) {
      // under the root monitor: two stores over the same root racing
      // their FIRST mutation in one JVM must not both pass the exists
      // check and then collide on create — the loser would throw a
      // spurious ConcurrentWriterException against its own process.
      shared.synchronized {
        requireManifestRoot()
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
        open()
      }
      lockHeld = true
      // a routine (non-crash) exit must not strand the lock and force a
      // manual forceUnlock before the next run: release it on shutdown.
      // One JVM-wide hook per root (not per instance).
      ChainStore.registerLockRelease(rootKey, () => fs, lockPath)
    }
  }

  /** Load the newest version for the writer and remove what crashed
    * writes left: temp manifests, data files no version names and the
    * staging directory of a root written before writes went in place.
    * Runs under the root monitor, which every commit holds, so no
    * write of this process is in flight. */
  private def open(): Unit = {
    shared.manifest = currentOnDisk(Manifest.empty)
    fs.mkdirs(log.dir)
    log.removeTemps()
    fs.delete(new Path(root, "_staging"), true)
    sweep(Tables.map(t => t -> listed(new Path(tablePath(t))).map(_.getPath.getName)
      .collect { case ChainStore.BucketDir(n) => n.toLong }))
  }

  /** The newest version on disk, from `prev` on. */
  private def currentOnDisk(prev: Manifest): Manifest = {
    val m = log.latest(prev)
    if (m.version == 0) requireManifestRoot()
    m
  }

  /** Fails fast on a root written before the manifest existed. */
  private def requireManifestRoot(): Unit =
    if (!fs.exists(log.dir) && Tables.exists(t => fs.exists(new Path(tablePath(t)))))
      throw new IllegalStateException(
        s"$root holds chain tables but no _manifest: it was written by an older " +
          "version of this store; re-ingest it into a new root")

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
      shared.synchronized {
        if (ChainStore.lockHolder(fs, lockPath).contains(ChainStore.processToken))
          fs.delete(lockPath, false): Unit
      }
      lockHeld = false
    }
  }

  /** The version this store answers from. The writer's is the one its
    * process last committed (no other process writes the root); a
    * store without the lock looks for a newer version on disk, one
    * listing of `_manifest`, and reuses what it loaded while none is. */
  @volatile private var readerView = Manifest.empty
  private def current: Manifest =
    if (lockHeld) shared.manifest
    else {
      val m = currentOnDisk(readerView)
      readerView = m
      m
    }

  def exists(table: String): Boolean = current.schemas.contains(table)

  /** The manifest version this store answers from: [[snapshot]]'s, and
    * the version a serving cache ([[graft.api.LookupCache]]) stamps its
    * entries with. Every commit moves it (append, rollback, compaction
    * and status write alike); a store without the writer lock sees a
    * foreign writer's commit on its next call. */
  def mutationCount: Long = current.version

  @volatile private var last = new ChainStore.Snapshot(Manifest.empty, frameAt)

  /** The three tables at the version this store answers from: a reader
    * of more than one table takes them from one snapshot and never
    * mixes versions. The store returns the same snapshot, and so the
    * same frames, until the version moves. */
  def snapshot: ChainStore.Snapshot = {
    val m = current
    val s = last
    if (s.version == m.version) s
    else {
      val next = new ChainStore.Snapshot(m, frameAt)
      last = next
      next
    }
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
    * Re-read contract: the frame is the table at one manifest version,
    * resolved from that version's file list and stored schema — no
    * listing and no Spark job, at any bucket count. It keeps answering
    * from that version while later commits land, for at least
    * [[ChainStore.GcGraceMs]] after one drops its files. The store
    * returns the same frame until the version moves: in the writer
    * process every commit moves it, through any store object over the
    * root; a store without the lock sees a foreign writer's commit on
    * its next call. A reader of several tables takes them from one
    * [[snapshot]] instead. */
  def read(table: String): Option[DataFrame] = snapshot.table(table)

  /** The frame of a table at a manifest version. */
  private def frameAt(table: String, m: Manifest): DataFrame = {
    val meta = graft.plans.BucketPruneRule.bucketMetadata("block_number", bucketSize)
    frameOver(table, m.schemas(table), m.files(table))
      .withColumn("bucket", col("bucket").as("bucket", meta))
  }

  /** A frame over the given files of a table: data columns in the
    * stored schema, then the integer `bucket` partition column. */
  private def frameOver(table: String, schema: StructType, files: Seq[DataFile]): DataFrame = {
    val statuses = files.map { f =>
      val p = fs.makeQualified(new Path(s"$root/${f.ref.relative}"))
      f.bucket -> new FileStatus(f.bytes, false, 1, 0L, 0L, p)
    }
    val index = new ManifestFileIndex(spark, fs.makeQualified(new Path(tablePath(table))), statuses)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, schema,
      None, new ParquetFileFormat(), Map.empty)(spark))
  }

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", expr(s"block_number div $bucketSize"))

  /** I-12: checkpoint state — max ingested height (None on empty
    * store), from the manifest: no Spark job. */
  def lastSyncedBlock: Option[Long] = current.tip

  /** Q-10: stored hash at a height. */
  def hashAt(height: Long): Option[String] =
    read("blocks").flatMap { b =>
      b.filter(col("block_number") === height).select(col("block_hash"))
        .limit(1).collect().headOption.map(_.getString(0))
    }

  /** Run a mutation as the writer, under the root monitor. */
  private def mutating[T](f: => T): T = {
    ensureWriteLock()
    shared.synchronized(f)
  }

  /** Q-20 / I-11: idempotent append of one flattened batch — the
    * reference's `INSERT ... ON CONFLICT (key) DO NOTHING`. Rows are
    * de-duplicated on the table's key within the batch, and a key
    * already stored at a height ≥ the batch's lowest is skipped, so a
    * replayed batch writes nothing twice. All three tables land in one
    * manifest commit: a reader sees the whole batch or none of it.
    *
    * The cost is O(batch), never O(store), and one Spark job per table
    * written:
    *  - each table's height range and the row bound per bucket that
    *    sizes its key bloom filter (see [[inPlace]]) come from
    *    metadata on `block_number` that [[StreamingIngester.processBatch]]
    *    stamps from its header collect ([[withRowCounts]]); a frame
    *    without it costs one more single-task job;
    *  - the stored keys at heights ≥ the batch's lowest are read from
    *    the manifest's files that reach that height (none when the
    *    batch starts above the tip), with the stored schema: resolving
    *    them lists nothing;
    *  - dedup and anti-join are one aggregate over the incoming rows
    *    tagged 1 and those stored keys tagged 0, keeping a key whose
    *    lowest tag is 1 — one task, no exchange (a left-anti join here
    *    is pushed below the single partition and broadcasts its
    *    stored side in a job of its own);
    *  - sort and partitioned write run in the same task, so each
    *    append leaves one file per bucket it touches. */
  def append(blocks: DataFrame, transactions: DataFrame, logs: DataFrame): Unit =
    mutating(appendImpl(Seq("blocks" -> blocks, "transactions" -> transactions, "logs" -> logs)))

  private def appendImpl(dfs: Seq[(String, DataFrame)]): Unit = {
    val stamped = dfs.map { case (_, df) => ChainStore.batchBounds(df) }
    val bounds: Map[String, Option[(Long, Long, Long)]] =
      if (stamped.forall(_.isDefined)) dfs.map(_._1).zip(stamped.map(_.get)).toMap
      else measuredBounds(dfs)
    val m = shared.manifest
    val batch = dfs.flatMap { case (t, df) => bounds(t).map(b => (t, ChainStore.unstamped(df), b)) }
    val touched = batch.map { case (t, _, (lo, hi, _)) => t -> (lo / bucketSize to hi / bucketSize) }
    val adds = writtenInPlace(touched) {
      batch.foreach { case (t, incoming, (lo, _, maxRows)) => writeFresh(m, t, incoming, lo, maxRows) }
    }
    val schemas = batch.collect { case (t, in, _) if !m.schemas.contains(t) =>
      Change.Schema(t, ChainStore.asStored(in.schema)) }
    if (adds.nonEmpty) commit(schemas ++ adds.map(Change.Add(_)))
  }

  /** Stamp a batch frame with what [[append]] would otherwise measure
    * with a Spark job, from the row count of each height it holds: its
    * lowest and highest height with rows and the largest row count of
    * a bucket (all 0 when it holds no rows). The bounds ride as
    * metadata on `block_number`; the append strips them before it
    * writes. */
  private[ingest] def withRowCounts(df: DataFrame, rowsAt: Seq[(Long, Long)]): DataFrame = {
    import ChainStore._
    val held = rowsAt.filter(_._2 > 0)
    val b = new MetadataBuilder().withMetadata(df.schema("block_number").metadata)
    if (held.isEmpty) b.putLong(BatchMaxRows, 0L)
    else b.putLong(BatchLo, held.map(_._1).min).putLong(BatchHi, held.map(_._1).max)
      .putLong(BatchMaxRows, held.groupBy(_._1 / bucketSize).values.map(_.map(_._2).sum).max)
    df.withColumn("block_number", col("block_number").as("block_number", b.build()))
  }

  /** Each table's height range and largest bucket's row count — one
    * Spark job, one task — for frames that carry no batch bounds. */
  private def measuredBounds(dfs: Seq[(String, DataFrame)]): Map[String, Option[(Long, Long, Long)]] = {
    val perBucket = dfs
      .map { case (t, df) => df.select(lit(t).as("t"), col("block_number")) }
      .reduce(_ unionByName _).coalesce(1)
      .groupBy(col("t"), expr(s"block_number div $bucketSize"))
      .agg(min("block_number"), max("block_number"), count(lit(1))).collect()
    val ranges = perBucket.groupBy(_.getString(0)).map { case (t, rs) =>
      t -> ((rs.map(_.getLong(2)).min, rs.map(_.getLong(3)).max, rs.map(_.getLong(4)).max))
    }
    dfs.map { case (t, _) => t -> ranges.get(t) }.toMap
  }

  /** Write the batch rows of table `t` whose key the store lacks into
    * its bucket directories: one Spark job, one task. */
  private def writeFresh(m: Manifest, t: String, incoming: DataFrame, lo: Long, maxRows: Long): Unit = {
    val key = keyOf(t)
    val tagged = incoming.select(col(key).as("_key"), lit(1).as("_new"),
      struct(incoming.columns.map(col).toSeq: _*).as("_row"))
    val storedFiles =
      if (m.tip.exists(lo <= _)) m.files(t).filter(_.maxBlock >= lo) else Vector.empty
    val all =
      if (storedFiles.isEmpty) tagged
      else tagged.unionByName(
        frameOver(t, m.schemas(t), storedFiles).filter(col("block_number") >= lo)
          .select(col(key).as("_key"), lit(0).as("_new"),
            lit(null).cast(tagged.schema("_row").dataType).as("_row")))
    // one partition: the aggregate needs no exchange
    val fresh = all.coalesce(1).groupBy(col("_key"))
      .agg(min(col("_new")).as("_new"), first(col("_row"), ignoreNulls = true).as("_row"))
      .filter(col("_new") === 1).select(col("_row.*"))
    val columns = m.schemas.get(t).map(_.fieldNames.toSeq).getOrElse(incoming.columns.toSeq)
    // sort within files by (block_number, key) — the substitute for
    // the reference's composite B-trees: row-group min/max stats stay
    // tight, so range + cursor predicates prune inside partitions too.
    // `bucket` leads because the partitioned writer needs its rows
    // grouped by it; it is monotone in block_number, so the order
    // is the same.
    inPlace(withBucket(fresh.select(columns.map(col): _*))
      .sortWithinPartitions(col("bucket"), col("block_number"), col(key)), key, maxRows)
      .partitionBy("bucket").parquet(tablePath(t))
  }

  /** The writer of a store file: it appends into the store's own
    * directories through [[InPlaceCommitter]], so each task's file
    * lands where it lives, and carries a bloom filter on the table's
    * key sized for `maxRows` distinct keys per file. Without a size
    * parquet writes a 1 MiB filter into every file, ~40× the bytes of
    * the rows a 100-block bucket holds. The point lookups
    * ([[graft.api.Lookups]]) push their hash equality to parquet,
    * which reads this filter to skip a file; the append's anti-join
    * does not use it. The committer is a write option, so the session's
    * other writes keep theirs. */
  private def inPlace(df: DataFrame, key: String, maxRows: Long) =
    df.write.mode("append")
      .option(SQLConf.PARQUET_OUTPUT_COMMITTER_CLASS.key, classOf[InPlaceCommitter].getName)
      .option(s"parquet.bloom.filter.enabled#$key", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$key", math.max(1L, maxRows))

  /** Run `write`, which puts new parquet files straight into the
    * `touched` buckets of each table, and describe the files it wrote.
    * Until a commit names them they are not part of the store. Unnamed
    * files in those buckets are removed first, so a failed write's
    * leftover never passes for this write's, and again if it fails. */
  private def writtenInPlace(touched: Seq[(String, Seq[Long])])(write: => Unit): Seq[DataFile] = {
    sweep(touched)
    try write catch { case e: Throwable => Try(sweep(touched)).failed.foreach(e.addSuppressed); throw e }
    unnamed(touched).flatMap { case (t, b, s) => described(t, b, s) }
  }

  /** The parquet files in the `touched` buckets of each table that the
    * writer's manifest names neither as live nor as dropped. */
  private def unnamed(touched: Seq[(String, Seq[Long])]): Seq[(String, Long, FileStatus)] = {
    val m = shared.manifest
    for ((t, buckets) <- touched; b <- buckets.distinct; f <- listed(new Path(s"${tablePath(t)}/bucket=$b"))
         if f.getPath.getName.endsWith(".parquet") && !m.named(FileRef(t, b, f.getPath.getName)))
      yield (t, b, f)
  }

  private def sweep(touched: Seq[(String, Seq[Long])]): Unit =
    unnamed(touched).foreach { case (_, _, s) => fs.delete(s.getPath, false) }

  private def listed(dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq catch { case _: java.io.FileNotFoundException => Nil }

  /** A parquet file of table `t` in bucket `b`, described from its
    * footer (rows and height range; read on the driver, no Spark job);
    * None when it holds no rows. */
  private def described(t: String, b: Long, s: FileStatus): Option[DataFile] = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, spark.sparkContext.hadoopConfiguration))
    try {
      val stats = r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
        .find(_.getPath.toDotString == "block_number").map(_.getStatistics))
        .filter(_.hasNonNullValue)
      if (stats.isEmpty) None
      else Some(DataFile(t, b, s.getPath.getName, s.getLen, r.getRecordCount,
        stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max))
    } finally r.close()
  }

  /** Commit the next manifest version: `drops` leave the live set,
    * then `changes` apply, and every dropped file whose grace period
    * has passed is deleted. The version is renamed into place before
    * those files are deleted, so a crash in between leaves only unnamed
    * files, which the next writer to open the root removes. Callers
    * hold the root monitor. */
  private def commit(changes: Seq[Change], drops: Seq[DataFile] = Nil): Unit = {
    val m = shared.manifest
    val t = now()
    val expired = m.dropped.filter(_.droppedAt + ChainStore.GcGraceMs <= t).map(_.ref)
    val all = drops.map(f => Change.Drop(f.ref, t)) ++ changes ++ expired.map(Change.Forget(_))
    val next = m.applied(m.version + 1, all)
    log.commit(next, all)
    shared.manifest = next
    expired.foreach { r =>
      fs.delete(new Path(s"$root/${r.relative}"), false)
      if (!next.named.exists(n => n.table == r.table && n.bucket == r.bucket))
        fs.delete(new Path(s"${tablePath(r.table)}/bucket=${r.bucket}"), true)
    }
    log.prune(next.version)
  }

  /** The table's live files, as paths under the root: what a frame
    * resolved now reads. */
  private[graft] def liveFiles(table: String): Seq[String] =
    current.files(table).map(f => s"$root/${f.ref.relative}")

  /** The files commits dropped that wait for garbage collection. */
  private[graft] def droppedFiles: Seq[String] = current.dropped.map(d => s"$root/${d.ref.relative}")

  /** Q-21 / I-10: delete every row with `block_number >= forkHeight`
    * across all tables (`src/db.rs:34-50`), in one commit. Files whose
    * rows all lie at or above the fork are dropped; the files of the
    * fork's bucket that straddle it are rewritten with the rows below
    * it, one Spark job per table that has any. */
  def rollback(forkHeight: Long): Unit = mutating(rollbackImpl(forkHeight))

  private def rollbackImpl(forkHeight: Long): Unit = {
    val m = shared.manifest
    val above = Seq("logs", "transactions", "blocks").filter(m.schemas.contains)
      .map(t => t -> m.files(t).filter(_.maxBlock >= forkHeight))
    // only the fork's bucket can hold a file on both sides of it
    val straddling = above.map { case (t, files) => t -> files.filter(_.minBlock < forkHeight) }
      .filter(_._2.nonEmpty)
    val forkBucket = forkHeight / bucketSize
    val kept = writtenInPlace(straddling.map { case (t, _) => t -> Seq(forkBucket) }) {
      straddling.foreach { case (t, files) =>
        inPlace(frameOver(t, m.schemas(t), files).filter(col("block_number") < forkHeight)
          .drop("bucket").coalesce(1)
          .sortWithinPartitions(col("block_number"), col(keyOf(t))), keyOf(t), files.map(_.rows).sum)
          .parquet(s"${tablePath(t)}/bucket=$forkBucket")
      }
    }
    val drops = above.flatMap(_._2)
    if (drops.nonEmpty) commit(kept.map(Change.Add(_)), drops)
  }

  /** Small-file compaction: every micro-batch append leaves one file
    * per bucket it touched, so a bucket ingested across B cycles holds
    * B small files — the classic streaming-sink problem at scale.
    * The buckets whose manifest entry holds more than one file are
    * rewritten, one sorted file each, in one Spark job for the table
    * and one commit. The frame is read with the stored schema and the
    * key bloom filter is sized from the manifest's row counts, so no
    * other job runs. Finding those buckets reads the manifest alone:
    * O(buckets) in memory, no listing, at any chain length. The old
    * files stay readable for frames resolved before the commit until
    * the grace period has passed. */
  def compact(table: String): Unit = mutating {
    val m = shared.manifest
    val multi = m.files(table).groupBy(_.bucket).filter(_._2.size > 1)
    if (multi.nonEmpty) {
      val key = keyOf(table)
      val adds = writtenInPlace(Seq(table -> multi.keys.toSeq)) {
        inPlace(frameOver(table, m.schemas(table), multi.values.flatten.toSeq).coalesce(1)
          .sortWithinPartitions(col("bucket"), col("block_number"), col(key)),
          key, multi.values.map(_.map(_.rows).sum).max)
          .partitionBy("bucket").parquet(tablePath(table))
      }
      commit(adds.map(Change.Add(_)), multi.values.flatten.toSeq)
    }
  }

  /** Q-19: the reference's `indexer_status` single-row upsert
    * (`ON CONFLICT DO UPDATE`, `src/db.rs:53-77`) — last-writer-wins,
    * committed as a manifest version written on the driver alone. */
  def writeStatus(lastProcessedBlock: Long, chainHeadAtLastPoll: Long): Unit =
    mutating(commit(Seq(Change.Status(lastProcessedBlock, chainHeadAtLastPoll))))

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
    * first ingest — `src/db.rs:8-15`. From the manifest: no Spark job. */
  def readStatus: Option[(Long, Long)] = current.status

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
  /** How long a file stays on disk after a commit dropped it: a frame
    * resolved before that commit keeps reading it for at least this
    * long. Longer than any scan the serving path runs. */
  val GcGraceMs: Long = 10L * 60L * 1000L

  /** Per-root state shared by every store object over the root in this
    * JVM. Its monitor serializes commits, lock changes and the
    * leftover sweep; `manifest` is the version the writer process last
    * committed, so a commit through one object is what its siblings
    * read next. */
  private[ingest] final class Shared {
    @volatile var manifest: Manifest = Manifest.empty
  }

  /** A store's tables at one manifest version. Each frame resolves on
    * first use, from the version's file list and stored schema (no
    * listing, no Spark job), and keeps reading that version while later
    * commits land. */
  final class Snapshot private[ingest] (m: Manifest, frameAt: (String, Manifest) => DataFrame) {
    def version: Long = m.version
    private val frames = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

    def table(t: String): Option[DataFrame] =
      if (m.schemas.contains(t)) Some(frames.computeIfAbsent(t, frameAt(_, m))) else None

    /** The numbers of a table's buckets that hold rows, ascending. */
    def buckets(t: String): Seq[Long] = m.buckets(t)
  }

  private val roots = new java.util.concurrent.ConcurrentHashMap[String, Shared]()
  private[ingest] def sharedFor(rootKey: String): Shared =
    roots.computeIfAbsent(rootKey, _ => new Shared)

  private val BucketDir = """bucket=(\d+)""".r

  private val BatchLo = "graft.batchLo"
  private val BatchHi = "graft.batchHi"
  private val BatchMaxRows = "graft.batchMaxRows"

  /** The bounds [[ChainStore.withRowCounts]] stamped: `None` when
    * unstamped. */
  private[ingest] def batchBounds(df: DataFrame): Option[Option[(Long, Long, Long)]] = {
    val md = df.schema("block_number").metadata
    if (!md.contains(BatchMaxRows)) None
    else if (md.getLong(BatchMaxRows) == 0L) Some(None)
    else Some(Some((md.getLong(BatchLo), md.getLong(BatchHi), md.getLong(BatchMaxRows))))
  }

  /** The schema a parquet read reports for what a parquet write was
    * given: every field, element and value nullable. */
  private[ingest] def asStored(s: StructType): StructType = nullable(s).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private[ingest] def unstamped(df: DataFrame): DataFrame =
    df.withColumn("block_number", col("block_number").as("block_number", Metadata.empty))

  /** One lock-release hook per root per JVM, via Hadoop's shutdown
    * manager at a priority ABOVE the FileSystem cache close (plain
    * Runtime hooks run in arbitrary order, so the FS could already be
    * closed and the release would strand the lock silently). The body
    * takes the root monitor — an in-flight commit finishes before the
    * lock drops, and the holder re-check under the same monitor as
    * [[ChainStore.close]] cannot delete a NEW process's lock. Failures
    * are logged, not swallowed: a stranded lock needs an operator. */
  private val releaseHooks =
    new java.util.concurrent.ConcurrentHashMap[String, Runnable]()
  private[ingest] def registerLockRelease(rootKey: String,
      fsf: () => org.apache.hadoop.fs.FileSystem, lock: Path): Unit = {
    releaseHooks.computeIfAbsent(rootKey, _ => {
      val r: Runnable = () => sharedFor(rootKey).synchronized {
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

/** The committer of the store's writes: it commits nothing, since a
  * manifest version makes a file part of the store ([[ChainStore]]).
  * Spark writes the files of a committer that is not a
  * `FileOutputCommitter` straight under the output path: no
  * `_temporary` tree, no rename and no `_SUCCESS` file. */
final class InPlaceCommitter extends OutputCommitter {
  def setupJob(job: JobContext): Unit = ()
  def setupTask(task: TaskAttemptContext): Unit = ()
  def needsTaskCommit(task: TaskAttemptContext): Boolean = false
  def commitTask(task: TaskAttemptContext): Unit = ()
  def abortTask(task: TaskAttemptContext): Unit = ()
}
