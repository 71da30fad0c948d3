package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamAnalytics
import graft.streaming.StreamAnalytics.{SessionEvent, UserSession}
import graft.tables.Fixtures

/** Streaming analytics: watermarked hourly rollup (streaming twin of
  * the batch `events_hourly` query) and stateful sessionization.
  * Streaming == batch parity is the correctness claim: the same plan
  * over the same rows must produce the same aggregates whether the
  * rows arrive as a table or as an unbounded feed. */
case class StreamTestDoc(doc_id: Long, text: String, ts: Long)

class StreamAnalyticsSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("hourly rollup on a stream == batch events_hourly on the same rows") {
    import spark.implicits._
    // feed the fixture events through a file stream (one parquet dir,
    // same files the batch query reads)
    val batchEvents = Fixtures.events(spark, sfDir)
    // file-stream sources read a directory; stage the NORMALIZED
    // events into one (Fixtures.events canonicalizes ts to epoch-nanos
    // LongType — copying the raw fixture file would re-expose whatever
    // physical timestamp unit the generator chose, which a LongType
    // read schema returns as raw unconverted integers)
    val streamDir = Files.createTempDirectory("eventsfeed")
    batchEvents.write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .parquet(streamDir.toString)
    // complete mode: every window's current value, no watermark wait
    val rollup = StreamAnalytics.hourlyRollup(stream)
    val q = rollup.writeStream
      .format("memory").queryName("rollup_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("rollup_stream")
      .select($"hour_ms", $"event_type", $"n", $"sum_value")
      .orderBy($"hour_ms", $"event_type").collect()
    val batch = StreamAnalytics.hourlyRollup(batchEvents)
      .orderBy($"hour_ms", $"event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("append mode: a window emits exactly once, when the watermark passes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val hourNanos = 3600L * 1000 * 1000 * 1000
    val rollup = StreamAnalytics.hourlyRollup(
      mem.toDF(), watermark = "0 seconds")
    val dir = Files.createTempDirectory("rollupck").toString
    val q = rollup.writeStream.format("memory").queryName("rollup_append")
      .outputMode("append").option("checkpointLocation", dir).start()
    try {
      // hour 0 events, then an hour-2 event to push the watermark past
      // the end of hour 0
      mem.addData(SessionEvent(1, 1000, "click", 1.0),
        SessionEvent(2, 2000, "click", 2.0))
      q.processAllAvailable()
      val early = spark.table("rollup_append").count()
      assert(early == 0, "window must not emit before watermark passes")
      mem.addData(SessionEvent(3, 2 * hourNanos, "view", 1.0))
      q.processAllAvailable()
      // watermark is now hour 2 > end of hour 0 ⇒ hour-0 window is final
      val rows = spark.table("rollup_append")
        .select($"hour_ms", $"event_type", $"n", $"sum_value").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 0L && rows(0).getString(1) == "click" &&
        rows(0).getLong(2) == 2L && rows(0).getDouble(3) == 3.0)
    } finally q.stop()
  }

  test("streaming dedup: re-delivered keys within the watermark emit once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val minNanos = 60L * 1000 * 1000 * 1000
    val deduped = StreamAnalytics.streamingDedup(
      mem.toDF(), keyCols = Seq("user_id"), watermark = "1 hour")
    val dir = Files.createTempDirectory("dedupck").toString
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").option("checkpointLocation", dir).start()
    try {
      val base = 24 * 60 // keep events off epoch 0 (late-row filter)
      mem.addData(
        SessionEvent(1, base * minNanos, "click", 1.0),
        SessionEvent(1, (base + 1) * minNanos, "click", 1.0), // dup in-batch
        SessionEvent(2, base * minNanos, "view", 2.0))
      q.processAllAvailable()
      // dup across batches, still inside the watermark horizon
      mem.addData(SessionEvent(1, (base + 10) * minNanos, "click", 9.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select($"user_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming near-dup: in-horizon pair found, evicted bucket forgets, late pairs still match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamTestDoc]
    val minNanos = 60L * 1000 * 1000 * 1000
    val base = 24 * 60 // stay off epoch 0 (late-row filter)
    val t0 = base * minNanos
    val baseText = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = baseText.replace("w7", "changed")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")

    val hits = StreamAnalytics.streamingNearDup(mem.toDF(),
      threshold = 0.5, horizonNanos = 10 * minNanos)
    val dir = Files.createTempDirectory("neardupck").toString
    val q = hits.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").option("checkpointLocation", dir).start()
    try {
      // d1 and the unrelated d3 arrive first; d2 (near-dup of d1)
      // arrives 5 min later — inside the 10-min horizon
      mem.addData(StreamTestDoc(1, baseText, t0), StreamTestDoc(3, other, t0))
      q.processAllAvailable()
      mem.addData(StreamTestDoc(2, nearDup, t0 + 5 * minNanos))
      q.processAllAvailable()
      val early = spark.table("neardup_stream").as[StreamAnalytics.NearDupHit]
        .collect().map(h => (h.doc_a, h.doc_b)).distinct
      assert(early.toSeq == Seq((1L, 2L)), s"expected the planted pair, got ${early.toSeq}")
      assert(spark.table("neardup_stream").as[StreamAnalytics.NearDupHit]
        .collect().forall(_.est_jaccard_bp >= 5000))

      // d4 — another near-dup of d1 — arrives 2 h later, far past the
      // horizon; the buckets holding d1 were evicted, so (1,4) must NOT
      // surface. d5, a near-dup of d4 in the same late window, MUST —
      // the operator keeps matching after eviction.
      val tLate = t0 + 120 * minNanos
      mem.addData(StreamTestDoc(4, baseText, tLate))
      q.processAllAvailable()
      mem.addData(StreamTestDoc(5, nearDup, tLate + 5 * minNanos))
      q.processAllAvailable()
      val pairs = spark.table("neardup_stream").as[StreamAnalytics.NearDupHit]
        .collect().map(h => (h.doc_a, h.doc_b)).distinct.toSet
      assert(!pairs.contains((1L, 4L)), "evicted bucket must forget pre-horizon docs")
      assert(pairs.contains((4L, 5L)), s"post-eviction arrivals must still pair: $pairs")
    } finally q.stop()
  }

  test("dedupNearDupFeed: exact dup collides in every band, final sink sees the pair ONCE") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamTestDoc]
    val minNanos = 60L * 1000 * 1000 * 1000
    val t0 = 24 * 60 * minNanos
    val text = (1 to 30).map(i => s"w$i").mkString(" ")

    // production wiring, two queries: matcher → parquet feed, then the
    // dedup reading that feed back (a stateful op cannot legally chain
    // inside the matcher's own query — see dedupNearDupFeed's doc)
    val hitsDir = Files.createTempDirectory("hitsfeed").toString
    val raw = StreamAnalytics.streamingNearDup(mem.toDF(),
      threshold = 0.5, horizonNanos = 10 * minNanos)
    val qRaw = raw.writeStream.format("parquet")
      .option("path", hitsDir).outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("rawck").toString)
      .start()
    val hitsFeed = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[StreamAnalytics.NearDupHit].schema)
      .parquet(hitsDir)
    val qDeduped = StreamAnalytics
      .dedupNearDupFeed(hitsFeed, horizonNanos = 10 * minNanos)
      .writeStream.format("memory").queryName("hits_deduped")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("dedupck").toString)
      .start()
    try {
      // doc 2 is an EXACT dup of doc 1: all 12 signature positions
      // agree, so all 6 band buckets emit the pair — the worst-case
      // at-least-once amplification
      mem.addData(StreamTestDoc(1, text, t0))
      qRaw.processAllAvailable()
      mem.addData(StreamTestDoc(2, text, t0 + minNanos))
      qRaw.processAllAvailable()
      qDeduped.processAllAvailable()

      val rawRows = spark.read.parquet(hitsDir)
        .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rawRows.length > 1 && rawRows.distinct.toSeq == Seq((1L, 2L)),
        s"expected amplified duplicates of (1,2) in the raw feed, got ${rawRows.toSeq}")
      val dedupedRows = spark.table("hits_deduped")
        .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(dedupedRows.toSeq == Seq((1L, 2L)),
        s"deduped feed must emit the pair exactly once, got ${dedupedRows.toSeq}")

      // ...and the loop CLOSES: the exactly-once hit set is the delete
      // producer — each pair's loser (greater id, the min-id survivor
      // rule) retires from the serving ANN index through the
      // ledger-first retireBatch, and a subsequent explicit-id probe
      // no longer serves it (the stream_retire registry entry runs
      // this same loop against the completed-stream harness; here the
      // producer is the REAL two-query dedupNearDupFeed wiring)
      val sfDir = "/root/testdata/sf0.001"
      val losers = spark.table("hits_deduped").select(col("doc_b").as("vec_id"))
      // discover the query ids that SERVE the loser pre-retire (a
      // full-width pass, fixture-sized), so the absence assertion
      // below is non-vacuous by construction
      val allIds = graft.tables.Fixtures.embeddings(spark, sfDir).select(col("vec_id"))
      val servers = graft.ops.AnnIndex
        .topK(spark, sfDir, graft.ops.AnnIndex.Ids(allIds), k = 12, nProbe = 6, tag = "feed")
        .filter(col("vec_id") === 2L).select(col("q_id").as("vec_id"))
        .limit(4).collect().map(_.getLong(0)).toSeq
      assert(servers.nonEmpty,
        "fixture sanity: some query must serve the loser BEFORE the retire")
      val queryIds = servers.toDF("vec_id")
      def probe() = graft.ops.AnnIndex
        .topK(spark, sfDir, graft.ops.AnnIndex.Ids(queryIds), k = 12, nProbe = 6, tag = "feed")
        .collect().map(_.getAs[Long]("vec_id")).toSet
      assert(probe().contains(2L))
      graft.ops.AnnIndex.retireBatch(spark, sfDir, losers, tag = "feed")
      assert(!probe().contains(2L),
        "the stream's loser must be absent from the post-retire probe")
      assert(spark.table(graft.ops.AnnIndex.Flat.ledger(sfDir, "feed"))
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq == Seq(2L),
        "the loser must be durably ledgered exactly once")
    } finally { qRaw.stop(); qDeduped.stop() }
  }

  test("sessionize: gap-separated bursts close as distinct sessions per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val minNanos = 60L * 1000 * 1000 * 1000
    val sessions = StreamAnalytics.sessionize(
      mem.toDS(), gapNanos = 10 * minNanos, watermark = "0 seconds")
    val dir = Files.createTempDirectory("sessck").toString
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").option("checkpointLocation", dir).start()
    try {
      // base offset keeps events off epoch 0 — rows at or before the
      // initial watermark (0) would be dropped as late.
      val base = 24 * 60
      // user 1: burst at t=0..2min, then a second burst 30min later —
      // two sessions. user 2: one event.
      mem.addData(
        SessionEvent(1, base * minNanos, "click", 1.0),
        SessionEvent(1, (base + 2) * minNanos, "click", 2.0),
        SessionEvent(1, (base + 32) * minNanos, "view", 4.0),
        SessionEvent(2, base * minNanos, "view", 8.0))
      q.processAllAvailable()
      // advance watermark far past every session's last+gap
      mem.addData(SessionEvent(99, (base + 1000) * minNanos, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions").as[UserSession].collect()
        .map(s => (s.user_id, s.session_start / minNanos - base,
          s.session_end / minNanos - base, s.n_events, s.sum_value))
        .toSet
      assert(got == Set(
        (1L, 0L, 2L, 2L, 3.0),   // first burst: 2 events, closed by the in-batch gap
        (1L, 32L, 32L, 1L, 4.0), // second burst: closed by event-time timeout
        (2L, 0L, 0L, 1L, 8.0)))

      // batch twin parity: the same rows as a bounded table produce the
      // same sessions (user 99's sentinel included — it is a real row)
      val batch = StreamAnalytics.batchSessionize(
        Seq((1L, base * minNanos, 1.0), (1L, (base + 2) * minNanos, 2.0),
          (1L, (base + 32) * minNanos, 4.0), (2L, base * minNanos, 8.0),
          (99L, (base + 1000) * minNanos, 0.0)).toDF("user_id", "ts", "value"),
        gapNanos = 10 * minNanos)
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("session_start") / minNanos - base,
          r.getAs[Long]("session_end") / minNanos - base,
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toSet
      assert(batch == got + ((99L, 1000L, 1000L, 1L, 0.0)),
        "batch sessionization must match the streaming operator's closed sessions")
    } finally q.stop()
  }

  test("streaming near-dup: bucket state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamTestDoc]
    val minNanos = 60L * 1000 * 1000 * 1000
    val t0 = 24 * 60 * minNanos
    val base = (1 to 30).map(i => s"r$i").mkString(" ")
    val hits = StreamAnalytics.streamingNearDup(mem.toDF(),
      threshold = 0.5, horizonNanos = 30 * minNanos)
    val ck = Files.createTempDirectory("neardup-restart").toString
    // memory sinks refuse checkpoint recovery, so collect via
    // foreachBatch (which supports it) into a shared buffer
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def startQuery() = hits.writeStream
      .outputMode("append").option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamAnalytics.NearDupHit], _: Long) =>
        df.collect().foreach(h => got.add((h.doc_a, h.doc_b)))
      }.start()
    // first incarnation sees only d1 — its signature must land in the
    // checkpointed state store, not just the running JVM's heap
    val q1 = startQuery()
    try {
      mem.addData(StreamTestDoc(1, base, t0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(got.isEmpty, "no pair can exist before the near-dup arrives")
    // second incarnation restarts from the same checkpoint; the
    // near-dup arrives only now, so the (1,2) pair can surface ONLY if
    // d1's signature state was recovered from the store
    val q2 = startQuery()
    try {
      mem.addData(StreamTestDoc(2, base.replace("r5", "mutated"), t0 + 5 * minNanos))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == Set((1L, 2L)),
        s"pre-restart doc must still match from recovered state: ${got.asScala.toSet}")
    } finally q2.stop()
  }

  test("withQuality and predictedLang match their batch-shaped twins on the fixture corpus") {
    import graft.ops.TextAnalysis
    val docs = Fixtures.documents(spark, sfDir)
    val viaPassthrough = TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score_bp"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val viaBatch = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score_bp"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(viaPassthrough == viaBatch)
    val langPassthrough = docs
      .select(col("doc_id"), TextAnalysis.predictedLang(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val langBatch = TextAnalysis.langId(docs)
      .select(col("doc_id"), col("predicted_lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langPassthrough == langBatch)
  }

  test("streamingCurate: low-quality docs are gated before the matcher; kept docs still pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamTestDoc]
    val minNanos = 60L * 1000 * 1000 * 1000
    val t0 = 24 * 60 * minNanos
    val good = (1 to 30).map(i => s"w$i").mkString(" ")       // distinct → high quality
    val goodDup = good.replace("w7", "changed")
    val degenerate = Seq.fill(30)("x").mkString(" ")          // one token 30× → low TTR

    val (kept, hits) = StreamAnalytics.streamingCurate(mem.toDF(),
      horizonNanos = 10 * minNanos)
    val dirK = Files.createTempDirectory("curk").toString
    val dirH = Files.createTempDirectory("curh").toString
    val qK = kept.writeStream.format("memory").queryName("curate_kept")
      .outputMode("append").option("checkpointLocation", dirK).start()
    val qH = hits.writeStream.format("memory").queryName("curate_hits")
      .outputMode("append").option("checkpointLocation", dirH).start()
    try {
      // two degenerate near-dups of each other: must be gated, so NO hit;
      // two good near-dups: kept, and the pair surfaces
      mem.addData(StreamTestDoc(1, good, t0), StreamTestDoc(8, degenerate, t0))
      qK.processAllAvailable(); qH.processAllAvailable()
      mem.addData(StreamTestDoc(2, goodDup, t0 + 5 * minNanos),
        StreamTestDoc(9, degenerate, t0 + 5 * minNanos))
      qK.processAllAvailable(); qH.processAllAvailable()
      val keptIds = spark.table("curate_kept").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(keptIds == Set(1L, 2L), s"quality gate should keep exactly the good docs: $keptIds")
      val keptCols = spark.table("curate_kept").columns.toSet
      assert(Set("doc_id", "ts", "n_tokens", "quality_score_bp", "predicted_lang")
        .subsetOf(keptCols), s"kept stream schema: $keptCols")
      val pairSet = spark.table("curate_hits").as[StreamAnalytics.NearDupHit]
        .collect().map(h => (h.doc_a, h.doc_b)).distinct.toSet
      assert(pairSet == Set((1L, 2L)),
        s"gated docs must never reach the matcher: $pairSet")
    } finally { qK.stop(); qH.stop() }
  }

  test("fixture-scale differential: streamed near-dup hits == batchNearDup over the documents fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the full documents fixture through the STATEFUL matcher, in
    // arrival order across several micro-batches, against the
    // declarative batch twin (the stream_twin registry query's
    // plan) — same clock, same horizon. maxPerBucket is lifted clear
    // of the fixture's duplicate-group sizes so the comparison tests
    // matching semantics, not the state cap (the cap's own semantics
    // are pinned by the planted-input tests above).
    val minNanos = 60L * 1000000000L
    val horizon = 120L * minNanos
    // clock offset keeps doc 0 off epoch 0 (== the initial watermark,
    // whose late-row filter would silently drop it) — same base the
    // registry's stream_twin derives
    val docs = Fixtures.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        ((col("doc_id") + 1440L) * minNanos).as("ts"))
    val arrivals = docs.as[StreamTestDoc].collect().sortBy(_.ts)
    val mem = MemoryStream[StreamTestDoc]
    val hits = StreamAnalytics.streamingNearDup(mem.toDF(), threshold = 0.6,
      horizonNanos = horizon, maxPerBucket = 1024)
    val ckpt = Files.createTempDirectory("neardup-fixture-ck").toString
    val q = hits.writeStream.format("memory").queryName("neardup_fixture")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      arrivals.grouped(100).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // streamed hits are at-least-once (multi-band): distinct first
    val streamed = spark.table("neardup_fixture")
      .select($"doc_a", $"doc_b", $"est_jaccard_bp", $"ts").distinct()
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = StreamAnalytics.batchNearDup(docs, threshold = 0.6, horizonNanos = horizon)
      .select($"doc_a", $"doc_b", $"est_jaccard_bp", $"ts")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.size >= 20, s"fixture must carry in-horizon near-dup pairs, got ${batch.size}")
    assert(streamed == batch,
      s"stream vs batch twin: only-streamed=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("nearDupStreamCompleted: state-partition count cannot change the hit set") {
    import spark.implicits._
    // the bounded-replay runner pins its cloned session to few shuffle
    // partitions purely as a state-store-commit economy; the matcher
    // is bucket-keyed and per-group deterministic, so this claim (in
    // the runner's scaladoc, and load-bearing for the registry entry's
    // oracle) must hold exactly: different partition counts, identical
    // distinct hits
    val minNanos = 60L * 1000000000L
    val docs = Fixtures.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        ((col("doc_id") + 1440L) * minNanos).as("ts"))
    def hitsAt(parts: Int): Set[(Long, Long, Long, Long)] =
      StreamAnalytics.nearDupStreamCompleted(docs, threshold = 0.6,
          horizonNanos = 120L * minNanos, statePartitions = parts)
        .as[(Long, Long, Long, Long)].collect().toSet
    // the returned frame must be a SCAN of the file sink with the
    // dedup in-plan — no driver materialization of the hit set (the
    // pre-r16 memory-sink collect planned as a LocalTableScan)
    val shape = StreamAnalytics.nearDupStreamCompleted(docs, threshold = 0.6,
      horizonNanos = 120L * minNanos, statePartitions = 2)
    val plan = shape.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      s"hit set must stay executor-resident:\n$plan")
    assert(plan.contains("FileScan parquet"),
      s"hits must read back from the file sink:\n$plan")
    val two = hitsAt(2)
    val eight = hitsAt(8)
    assert(two.size >= 20, s"fixture must carry in-horizon pairs, got ${two.size}")
    assert(two == eight,
      s"hit set varied with partitions: only-2=${(two -- eight).take(5)} " +
        s"only-8=${(eight -- two).take(5)}")
    // and the file-replay harness itself equals the batch twin — the
    // ts-range chunking + oldest-first file feed must reproduce
    // arrival-order semantics exactly (a chunk boundary or a late-drop
    // regression shows here before it shows as a driver hash mismatch)
    val twin = StreamAnalytics.batchNearDup(docs, threshold = 0.6,
        horizonNanos = 120L * minNanos)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard_bp"), col("ts"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(two == twin,
      s"replayed harness vs batch twin: only-stream=${(two -- twin).take(5)} " +
        s"only-batch=${(twin -- two).take(5)}")
  }

  test("RocksDB state-store tier: near-dup and sessionize match their twins, state telemetry reports size") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the tier a production deployment runs when keyed state outgrows
    // executor heap: same operators, same results, state in RocksDB.
    // providerClass is latched per query at start, so set → start →
    // restore is race-free within this suite's sequential tests.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val prior = spark.conf.getOption(key)
    val telemetry = new graft.ingest.IngestTelemetry()
    spark.streams.addListener(telemetry)
    spark.conf.set(key, rocks)
    try {
      // near-dup over the full fixture vs the declarative batch twin —
      // the fixture-scale differential, re-run with RocksDB holding
      // the bucket state
      val minNanos = 60L * 1000000000L
      val horizon = 120L * minNanos
      val docs = Fixtures.documents(spark, sfDir)
        .select(col("doc_id"), col("text"),
          ((col("doc_id") + 1440L) * minNanos).as("ts"))
      val arrivals = docs.as[StreamTestDoc].collect().sortBy(_.ts)
      val mem = MemoryStream[StreamTestDoc]
      val hits = StreamAnalytics.streamingNearDup(mem.toDF(), threshold = 0.6,
        horizonNanos = horizon, maxPerBucket = 1024)
      val ckpt = Files.createTempDirectory("neardup-rocks-ck").toString
      val q = hits.writeStream.format("memory").queryName("neardup_rocks")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        arrivals.grouped(100).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
        // prove the query genuinely ran on RocksDB, not a silently
        // ignored conf: the state operator's custom metrics are
        // provider-specific
        val metrics = q.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet.toArray.map(_.toString))
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"state op must report RocksDB metrics, got ${metrics.take(5).toSeq}")
      } finally q.stop()
      val streamed = spark.table("neardup_rocks")
        .select($"doc_a", $"doc_b", $"est_jaccard_bp", $"ts").distinct()
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = StreamAnalytics.batchNearDup(docs, threshold = 0.6, horizonNanos = horizon)
        .select($"doc_a", $"doc_b", $"est_jaccard_bp", $"ts")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty && streamed == batch,
        s"RocksDB near-dup diverged: only-streamed=${(streamed -- batch).take(5)} " +
          s"only-batch=${(batch -- streamed).take(5)}")
      // sessionize under RocksDB: the planted two-burst scenario
      val mem2 = MemoryStream[SessionEvent]
      val sessions = StreamAnalytics.sessionize(
        mem2.toDS(), gapNanos = 10 * minNanos, watermark = "0 seconds")
      val dir2 = Files.createTempDirectory("sess-rocks-ck").toString
      val q2 = sessions.writeStream.format("memory").queryName("sessions_rocks")
        .outputMode("append").option("checkpointLocation", dir2).start()
      try {
        val base = 24 * 60
        mem2.addData(
          SessionEvent(1, base * minNanos, "click", 1.0),
          SessionEvent(1, (base + 2) * minNanos, "click", 2.0),
          SessionEvent(1, (base + 32) * minNanos, "view", 4.0),
          SessionEvent(2, base * minNanos, "view", 8.0))
        q2.processAllAvailable()
        mem2.addData(SessionEvent(99, (base + 1000) * minNanos, "view", 0.0))
        q2.processAllAvailable()
        val got = spark.table("sessions_rocks").as[UserSession].collect()
          .map(s => (s.user_id, s.session_start / minNanos - base,
            s.session_end / minNanos - base, s.n_events, s.sum_value)).toSet
        assert(got == Set(
          (1L, 0L, 2L, 2L, 3.0), (1L, 32L, 32L, 1L, 4.0), (2L, 0L, 0L, 1L, 8.0)),
          s"RocksDB sessionize diverged: $got")
      } finally q2.stop()
      // kill-and-resume under RocksDB: the restart leg proves state
      // RESTORE (checkpoint → fresh RocksDB instance), not just state
      // build — the first incarnation checkpoints d1's signature, the
      // second sees only the near-dup, so the (1,2) pair can surface
      // ONLY from recovered disk-tier state
      val mem3 = MemoryStream[StreamTestDoc]
      val t0 = 24 * 60 * minNanos
      val restartBase = (1 to 30).map(i => s"rr$i").mkString(" ")
      val hits3 = StreamAnalytics.streamingNearDup(mem3.toDF(),
        threshold = 0.5, horizonNanos = 30 * minNanos)
      val ck3 = Files.createTempDirectory("neardup-rocks-restart").toString
      val got3 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def startRestartQuery() = hits3.writeStream
        .outputMode("append").option("checkpointLocation", ck3)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamAnalytics.NearDupHit], _: Long) =>
          df.collect().foreach(h => got3.add((h.doc_a, h.doc_b)))
        }.start()
      val q3a = startRestartQuery()
      try {
        mem3.addData(StreamTestDoc(1, restartBase, t0))
        q3a.processAllAvailable()
        val m3 = q3a.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet.toArray.map(_.toString))
        assert(m3.exists(_.toLowerCase.contains("rocksdb")),
          s"restart leg must genuinely run on RocksDB, got ${m3.take(5).toSeq}")
      } finally q3a.stop()
      assert(got3.isEmpty, "no pair can exist before the near-dup arrives")
      val q3b = startRestartQuery()
      try {
        mem3.addData(StreamTestDoc(2, restartBase.replace("rr5", "mutated"), t0 + 5 * minNanos))
        q3b.processAllAvailable()
        import scala.jdk.CollectionConverters._
        assert(got3.asScala.toSet == Set((1L, 2L)),
          s"pre-restart doc must match from RocksDB-recovered state: ${got3.asScala.toSet}")
      } finally q3b.stop()
      // the telemetry listener saw the stateful batches and reports a
      // nonzero state size — the operator's capacity signal
      spark.streams.awaitAnyTermination(1)
      assert(telemetry.batches.iterator().hasNext)
      val it = telemetry.batches.iterator()
      var maxRows = 0L
      while (it.hasNext) maxRows = math.max(maxRows, it.next().stateRowsTotal)
      assert(maxRows > 0, "state telemetry must report the stored row count")
    } finally {
      spark.streams.removeListener(telemetry)
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("streamingCurate classifier gate: below-threshold docs drop before state, feat_sum rides along") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamTestDoc]
    val minNanos = 60L * 1000 * 1000 * 1000
    val t0 = 24 * 60 * minNanos
    // both texts pass the quality gates; the md5-derived classifier
    // splits them (scores computed with the BATCH form, which
    // SpanOpsSpec proves identical to the streaming per-row form)
    val candidates = (1 to 60).map(i => (1 to 30).map(j => s"t${i}w$j").mkString(" "))
    val batchScores = graft.ops.TextAnalysis.classifierScore(
      candidates.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("feat_sum")).toMap
    val pos = candidates(batchScores.filter(_._2 >= 0).keys.min.toInt)
    val neg = candidates(batchScores.filter(_._2 < 0).keys.min.toInt)

    val (kept, _) = StreamAnalytics.streamingCurate(mem.toDF(),
      horizonNanos = 10 * minNanos, minFeatSum = Some(0L))
    val dir = Files.createTempDirectory("curcls").toString
    val q = kept.writeStream.format("memory").queryName("curate_cls")
      .outputMode("append").option("checkpointLocation", dir).start()
    try {
      mem.addData(StreamTestDoc(1, pos, t0), StreamTestDoc(2, neg, t0))
      q.processAllAvailable()
      val rows = spark.table("curate_cls").select("doc_id", "feat_sum").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L),
        "the classifier gate must drop the negative-scoring doc before any state")
      assert(rows.head.getLong(1) >= 0L)
    } finally q.stop()
  }

  test("streamingCurate LM gate: stored-model per-row score drops the scrambled doc before state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val minNanos = 60L * 1000 * 1000 * 1000
    val t0 = 24 * 60 * minNanos
    // model trained on a coherent corpus (w1..w40 in order); the two
    // candidates are unigram-identical anagram twins, so quality and
    // commonness cannot split them — only the bigram model can
    val coherent = (1 to 40).map(i => s"w$i").mkString(" ")
    val scrambled = (1 to 40).reverse.map(i => s"w$i").mkString(" ")
    val corpus = Seq((100L, coherent, "en", "s", coherent.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val model = graft.ops.TextAnalysis.lmModelLiterals(
      graft.ops.TextAnalysis.lmRef(corpus, topK = 100),
      graft.ops.TextAnalysis.commonnessRef(corpus, topK = 100))
    // batch scores via the exploded plan: coherent pairs are all
    // in-model (1e6 each), scrambled pairs are all backoff
    val mem = MemoryStream[StreamTestDoc]
    val (kept, _) = StreamAnalytics.streamingCurate(mem.toDF(),
      horizonNanos = 10 * minNanos,
      minLmPpm = Some(100000L), lmModel = Some(model))
    val dir = Files.createTempDirectory("curlm").toString
    val q = kept.writeStream.format("memory").queryName("curate_lm")
      .outputMode("append").option("checkpointLocation", dir).start()
    try {
      mem.addData(StreamTestDoc(1, coherent, t0), StreamTestDoc(2, scrambled, t0))
      q.processAllAvailable()
      val rows = spark.table("curate_lm").select("doc_id", "lm_ppm").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L),
        "the LM gate must drop the scrambled doc before any state")
      assert(rows.head.getLong(1) == 1000000L,
        "coherent doc's pairs are all in-model at cond_ppm 1e6")
    } finally q.stop()
    // misuse guard: a threshold without a model must fail loudly
    intercept[IllegalArgumentException] {
      StreamAnalytics.streamingCurate(mem.toDF(), minLmPpm = Some(1L))
    }
    // a model WITHOUT a threshold still scores: lm_ppm rides along on
    // the kept stream for downstream thresholding (the feat_sum
    // convention) instead of being silently dropped
    val (scoredOnly, _) = StreamAnalytics.streamingCurate(mem.toDF(),
      lmModel = Some(model))
    assert(scoredOnly.schema.fieldNames.contains("lm_ppm"),
      "lmModel without minLmPpm must add the lm_ppm column, not ignore the model")
  }

  test("streamingCurate DSIR gate: off-target doc drops before state, dsir_score rides along") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val minNanos = 60L * 1000 * 1000 * 1000
    val t0 = 24 * 60 * minNanos
    // target distribution trained on a-tokens; the pool also carries
    // the junk z-tokens. The on-target doc's buckets have near-equal
    // p/q magnitudes (score ~ 0); the junk doc's buckets sit at the
    // target's smoothing floor (score ~ -40) — the gate splits them.
    val targetText = (1 to 40).map(i => s"a$i").mkString(" ")
    val junkText = (1 to 40).map(i => s"z$i").mkString(" ")
    def corpus(texts: String*) = texts.zipWithIndex
      .map { case (t, i) => (100L + i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val model = graft.ops.Curation.dsirModelLiterals(
      graft.ops.Curation.dsirBucketPpm(corpus(targetText)),
      graft.ops.Curation.dsirBucketPpm(corpus(targetText, junkText)))
    val mem = MemoryStream[StreamTestDoc]
    val (kept, _) = StreamAnalytics.streamingCurate(mem.toDF(),
      horizonNanos = 10 * minNanos,
      minDsirScore = Some(-20L), dsirModel = Some(model))
    val dir = Files.createTempDirectory("curdsir").toString
    val q = kept.writeStream.format("memory").queryName("curate_dsir")
      .outputMode("append").option("checkpointLocation", dir).start()
    try {
      mem.addData(StreamTestDoc(1, targetText, t0), StreamTestDoc(2, junkText, t0))
      q.processAllAvailable()
      val rows = spark.table("curate_dsir").select("doc_id", "dsir_score").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L),
        "the DSIR gate must drop the off-target doc before any state")
      assert(rows.head.getLong(1) > -20L, "the kept doc's score rides along")
    } finally q.stop()
    // misuse guard: a threshold without a model must fail loudly
    intercept[IllegalArgumentException] {
      StreamAnalytics.streamingCurate(mem.toDF(), minDsirScore = Some(0L))
    }
    // a model WITHOUT a threshold still scores (the feat_sum/lm_ppm
    // rides-along convention)
    val (scoredOnly2, _) = StreamAnalytics.streamingCurate(mem.toDF(),
      dsirModel = Some(model))
    assert(scoredOnly2.schema.fieldNames.contains("dsir_score"),
      "dsirModel without minDsirScore must add the dsir_score column")
  }
}
