package graft.perfbench

import scala.jdk.CollectionConverters._
import graft.api.{EvmApi, LookupCache, RestServer}

/** The workloads that drive the running system from outside. */
object Workloads {
  val Bucket = 100L
  /** Blocks in the store `serve_hot` serves. */
  val Prebuilt = 5000L
  /** `backfill`: the node's head, far ahead of the ingester. */
  val BackfillHead = 1000000L
  /** Fixed time the node spends on every JSON-RPC call. An assumption:
    * the order of a round trip to a hosted endpoint; see the README. */
  val NodeDelayMs = 100L
  val NodeThreads = 32
  /** Micro-batches between store compactions. */
  val CompactEvery = 2L
  /** Open-loop ladder rates, requests per second. */
  val LadderRates = Seq(0.5, 1.0, 1.5, 2.0)
  val LadderSeconds = 3.0
  val LatencyLimitMs = 5000.0
  /** Status codes always reported, as zero when none came back. */
  val StatusCodes = Seq("200", "400", "404", "500", "error")

  // ---------------------------------------------------------------- shared

  /** Counters read at the edges of a measured phase. */
  final case class Snap(ns: Long, calls: Map[String, Long], nodeBusyMs: Double, fetched: Long,
                        committed: Long, counters: Map[String, Long], jobs: Long, tasks: Long,
                        taskRunMs: Long, planningNs: Long, gcMs: Long, fsWritten: Long,
                        bytesRead: Long, recordsRead: Long, shuffleWrite: Long, spill: Long)

  def snap(ctx: Ctx, node: Option[RpcNode], store: Option[TimedStore]): Snap = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Snap(ctx.trace.nowNs, node.map(_.callCounts).getOrElse(Map.empty), node.map(_.busyMs).getOrElse(0.0),
      node.map(_.blocksFetched).getOrElse(0L), store.map(_.committed).getOrElse(-1L),
      ctx.trace.counterValues, ctx.probe.jobs.get(), ctx.probe.tasks.get(),
      ctx.probe.taskRunMs.get(), ctx.probe.planningNs.get(), gcMs(),
      fs.map(_.getBytesWritten).sum, ctx.probe.bytesRead.get(), ctx.probe.recordsRead.get(),
      ctx.probe.shuffleWriteBytes.get(), ctx.probe.spillBytes.get())
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def waitUntil(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  /** Let the listener bus deliver what the last actions posted. */
  def settle(): Unit = Thread.sleep(300)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Union length of intervals, in ns. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def countSamples(r: Report, samples: Seq[Sample]): Unit = {
    r.attempted += samples.size
    samples.filterNot(_.ok).foreach(s => r.fail(s"${s.route} request answered ${s.code} or wrongly"))
  }

  /** The per-layer numbers of one ingest phase. */
  def ingestLayers(r: Report, store: TimedStore, progress: ProgressProbe, a: Snap, b: Snap,
                   spans: Seq[Span]): Unit = {
    val cycles = progress.working(a.ns / 1000000L, b.ns / 1000000L)
    val n = math.max(1, cycles.size).toDouble
    val blocks = math.max(1L, b.committed - a.committed).toDouble
    def d(k: String) = (b.counters.getOrElse(k, 0L) - a.counters.getOrElse(k, 0L)).toDouble
    val calls = b.calls.map { case (k, v) => k -> (v - a.calls.getOrElse(k, 0L)) }
    r.put("sources.rpc_calls_per_block", calls.values.sum / blocks, "1")
    calls.toSeq.sorted.foreach { case (k, v) => r.put(s"sources.rpc.$k", v.toDouble, "count") }
    r.put("sources.node_busy_ms_per_block", (b.nodeBusyMs - a.nodeBusyMs) / blocks, "ms")
    r.put("sources.new_block_frac", blocks / math.max(1L, b.fetched - a.fetched), "1")
    r.put("ingest.cycles", cycles.size.toDouble, "count")
    r.put("ingest.blocks_per_cycle", blocks / n, "1")
    Seq("triggerExecution" -> "trigger", "addBatch" -> "addBatch", "latestOffset" -> "latestOffset",
      "walCommit" -> "walCommit", "commitOffsets" -> "commitOffsets", "queryPlanning" -> "queryPlanning")
      .foreach { case (k, name) =>
        r.put(s"ingest.${name}_ms_p50", Stats.median(cycles.map(_.durations.getOrElse(k, 0L).toDouble)), "ms")
      }
    val streamSpans = spans.filter(_.thread == "stream")
    val storeSpans = streamSpans.filter(_.layer == "store")
    val selfMs = cycles.map { c =>
      val (s, e) = (c.start * 1000000L, c.end * 1000000L)
      val storeNs = storeSpans.filter(x => x.startNs >= s && x.endNs <= e).map(_.durNs).sum
      c.durations.getOrElse("addBatch", 0L) - storeNs / 1e6
    }
    r.put("ingest.process_self_ms_p50", Stats.median(selfMs), "ms")
    r.put("store.append_ms_per_cycle", d("store.append.ns") / 1e6 / n, "ms")
    r.put("store.read_ms", d("store.read.ns") / 1e6 / math.max(1.0, d("store.read.calls")), "ms")
    r.put("store.writeStatus_ms_per_cycle", d("store.writeStatus.ns") / 1e6 / n, "ms")
    // NaN, which fails the run, if the phase held no compaction
    r.put("store.compact_ms", d("store.compact.ns") / 1e6 / d("store.compact.calls"), "ms")
    r.put("store.bytes_written_per_block", (b.fsWritten - a.fsWritten) / blocks, "B")
    storeShape(r, store, math.max(1L, store.committed + 1))
    val jobSpans = streamSpans.filter(s => s.name == "spark.job" && s.startNs >= a.ns && s.endNs <= b.ns)
    r.put("spark.jobs_per_cycle", jobSpans.size / n, "1")
    r.put("spark.tasks_per_cycle", (b.tasks - a.tasks) / n, "1")
    r.put("spark.task_run_ms_per_cycle", (b.taskRunMs - a.taskRunMs) / n, "ms")
    val planningMs = (b.planningNs - a.planningNs) / 1e6
    r.put("spark.planning_ms_per_cycle", planningMs / n, "ms")
    val cycleMs = cycles.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
    val jobMs = unionNs(jobSpans.map(s => (s.startNs, s.endNs))) / 1e6
    r.put("spark.driver_gap_ms_per_cycle", (cycleMs - jobMs - planningMs) / n, "ms")
    r.put("jvm.gc_ms", (b.gcMs - a.gcMs).toDouble, "ms")
  }

  /** Files per bucket and bytes per block of the store on disk. */
  def storeShape(r: Report, store: TimedStore, blocks: Long): Unit = {
    val root = new java.io.File(store.rootDir)
    val buckets = store.Tables.flatMap(t => Option(new java.io.File(root, t).listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith("bucket="))
    val files = buckets.flatMap(b => Option(b.listFiles()).getOrElse(Array.empty)).filter(_.getName.endsWith(".parquet"))
    r.put("store.files_per_bucket", files.length.toDouble / math.max(1, buckets.length), "1")
    r.put("store.bytes_per_block", files.map(_.length()).sum.toDouble / blocks, "B")
  }

  /** Tracing overhead: how much worse the traced phase's headline was. */
  def overhead(r: Report, untraced: Double, traced: Double, lowerIsBetter: Boolean): Unit =
    r.put("trace.overhead_frac", if (lowerIsBetter) traced / untraced - 1 else untraced / traced - 1, "1")

  /** The per-layer self-time table: every span's self time by name,
    * plus what no span covers, summing to `wallMs`. The named `rows`
    * are always reported, as zero when no span of theirs ran. */
  def layerTable(r: Report, prefix: String, self: Map[String, Double], wallMs: Double, rows: Seq[String]): Unit = {
    (rows.map(_ -> 0.0).toMap ++ self).toSeq.sortBy(-_._2).foreach { case (k, v) => r.put(s"$prefix.self.$k", v, "ms") }
    r.put(s"$prefix.self.unattributed", wallMs - self.values.sum, "ms")
    r.put(s"$prefix.wall", wallMs, "ms")
  }

  // --------------------------------------------------------------- backfill

  /** Ingest from an empty store while the node's head is far ahead. */
  def backfill(ctx: Ctx, r: Report): Unit = {
    import ctx._
    val t0 = System.nanoTime()
    val node = new RpcNode(BackfillHead, NodeDelayMs, NodeThreads)
    val dir = ctx.dir("backfill")
    val store = new TimedStore(spark, s"$dir/store", Bucket, trace)
    val progress = new ProgressProbe
    spark.streams.addListener(progress)
    val q = IngestRig.startStream(spark, node, store, s"$dir/store", s"$dir/ckpt", 0L,
      blocksPerBatch = 50, triggerMs = 100, compactEvery = CompactEvery)
    waitUntil("the first backfill batch", 120)(store.committed >= 0 || !q.isActive)
    r.put("setup_s", setupSeconds(secs(t0)), "s")

    /** Whole compaction periods, so that every phase holds the same mix
      * of batches: from `from` (epoch ns, committed block), the end of
      * a batch, to the end of the first compaction round at least
      * `seconds` later. Returns the snapshots, the end, the rate and
      * the CPU milliseconds per block the Java threads spent outside
      * the node. */
    def phase(traced: Boolean, from: (Long, Long)): (Snap, Snap, (Long, Long), Double, Double) = {
      trace.enabled = traced
      val a = snap(ctx, Some(node), Some(store))
      val (c0, node0) = (Main.javaThreadsCpu(), node.cpuNs)
      val due = from._1 + (seconds * 1e9).toLong
      def end = store.rounds.asScala.find(_._1 >= due)
      waitUntil("a backfill compaction", 120)(end.isDefined || !q.isActive)
      val cpuNs = Main.cpuSinceNs(c0) - (node.cpuNs - node0)
      val b = snap(ctx, Some(node), Some(store))
      trace.enabled = false
      val last = end.getOrElse(throw new IllegalStateException(s"ingest stopped: ${q.exception}"))
      val blocks = (last._2 - from._2).toDouble
      (a, b, last, blocks / ((last._1 - from._1) / 1e9), cpuNs / 1e6 / blocks)
    }
    // batch 0, the set-up's, does not compact: it ends at its status write
    val (a, _, end, rate, cpuMs) = phase(traced = false, store.statusLog.head)
    r.put("wall_ms_per_op", 1000.0 / rate, "ms")
    r.put("cpu_ms_per_op", cpuMs, "ms")
    r.put("ingest.blocks_per_s", rate, "1/s")
    if (!traced) r.put("mem.heap_live_mb", Main.heapLiveMb(), "MB")
    else {
      val (ta, tb, _, tracedRate, _) = phase(traced = true, end)
      settle()
      val spans = trace.all
      overhead(r, rate, tracedRate, lowerIsBetter = false)
      ingestLayers(r, store, progress, ta, tb, spans)
      val self = Trace.selfTimesMs(spans.filter(s => s.thread == "stream" && s.startNs >= ta.ns && s.endNs <= tb.ns) ++
        progress.spans(ta.ns, tb.ns))
      val storeCalls = Seq("store.append", "store.read", "store.writeStatus", "store.compact")
      layerTable(r, "backfill", self, (tb.ns - ta.ns) / 1e6,
        ("ingest.cycle" +: storeCalls).flatMap(k => Seq(k, s"spark.job-in-$k")))
    }
    val cycles = progress.working(a.ns / 1000000L, System.currentTimeMillis())
    q.stop()
    r.attempted += cycles.size + 1
    q.exception.foreach(e => r.fail(s"ingest query failed: $e"))
    val upTo = store.committed
    if (upTo < 0) r.fail("nothing committed")
    else IngestRig.verifyStore(store, upTo).foreach(p => r.fail(s"store: $p"))
    node.close(); store.close()
  }

  // -------------------------------------------------------------- serving

  /** `RestServer` over the store, with the provider timed as `api.provider`. */
  private def server(ctx: Ctx, store: TimedStore, cache: LookupCache): RestServer = {
    val base = EvmApi.providerOnStore(store, cache)
    val provider = () => ctx.trace.span("api.provider", "api") {
      SparkProbe.tag(ctx.spark.sparkContext, "")
      base()
    }
    val srv = new RestServer(provider, 0, ctx.cores)
    srv.start()
    srv
  }

  private def cacheCounts(cache: LookupCache) = (cache.hits, cache.misses, cache.coalesced)

  private def cacheLayers(r: Report, cache: LookupCache, before: (Long, Long, Long)): Unit = {
    val (h, m, c) = (cache.hits - before._1, cache.misses - before._2, cache.coalesced - before._3)
    r.put("api.cache_hits", h.toDouble, "count")
    r.put("api.cache_misses", m.toDouble, "count")
    r.put("api.cache_coalesced", c.toDouble, "count")
    r.put("api.cache_hit_ratio", h.toDouble / math.max(1L, h + m + c), "1")
    r.put("api.cache_size", cache.size.toDouble, "count")
  }

  private def serveLayers(r: Report, lg: LoadGen, samples: Seq[Sample], a: Snap, b: Snap,
                          spans: Seq[Span]): Unit = {
    def d(k: String) = (b.counters.getOrElse(k, 0L) - a.counters.getOrElse(k, 0L)).toDouble
    r.put("api.provider_ms_p50", Stats.median(spans.filter(_.name == "api.provider").map(_.durNs / 1e6)), "ms")
    StatusCodes.foreach(c => r.put(s"api.status.$c", d(s"api.status.$c"), "count"))
    r.put("loadgen.late_p90_ms", Stats.pct(samples.map(_.lateMs), 0.9), "ms")
    r.put("loadgen.inflight_max", lg.inflightMax.get().toDouble, "count")
    r.put("jvm.gc_ms", (b.gcMs - a.gcMs).toDouble, "ms")
    // self times over the summed request time: client spans nest the
    // queue wait; every server-side span lies inside some request
    val client = spans.filter(_.layer == "loadgen")
    val server = spans.filter(_.thread.startsWith("pool-")) // RestServer's handler threads
    val requestMs = client.filter(_.name.startsWith("http.")).map(_.durNs / 1e6).sum
    val self = Trace.selfTimesMs(server) ++
      Map("loadgen.queue" -> client.filter(_.name == "loadgen.queue").map(_.durNs / 1e6).sum)
    layerTable(r, "serve", self, requestMs,
      Seq("api.provider", "store.read", "spark.job-in-store.read", "spark.job", "loadgen.queue"))
  }

  /** One client, one request at a time, a few per route, none of them
    * a repeat: exact Spark attribution of the scan path per request. */
  private def singleClientPass(ctx: Ctx, r: Report, lg: LoadGen, serving: Serving): Unit = {
    val byRoute = (0L until 400L).map(i => serving.request(ctx.seed + 31, i))
      .filterNot(serving.repeats.contains)
      .groupBy(_.route).filter { case (k, _) => Seq("block", "tx", "logs").contains(k) }
    byRoute.toSeq.sortBy(_._1).foreach { case (route, reqs) =>
      val picked = reqs.take(3)
      val a = snap(ctx, None, None)
      var results = 0L
      picked.foreach { q =>
        val s = lg.send(q, ctx.trace.nowNs, (rq, code, body, s0, e0) => {
          if (body != null && body.has("logs")) results += body.get("logs").size()
          else if (code == 200) results += 1
          serving.check(rq, code, body, s0, e0)
        })
        r.attempted += 1
        if (!s.ok) r.fail(s"$route request answered ${s.code} or wrongly")
        settle()
      }
      val b = snap(ctx, None, None)
      val k = picked.size.toDouble
      r.put(s"spark.jobs_per_request.$route", (b.jobs - a.jobs) / k, "1")
      r.put(s"spark.planning_ms_per_request.$route", (b.planningNs - a.planningNs) / 1e6 / k, "ms")
      r.put(s"spark.bytes_read_per_request.$route", (b.bytesRead - a.bytesRead) / k, "B")
      r.put(s"spark.rows_scanned_per_result.$route", (b.recordsRead - a.recordsRead).toDouble / math.max(1L, results), "1")
    }
  }

  /** The highest ladder rate whose pooled p90 meets the limit without
    * a growing backlog, reported as the rate actually completed; 0
    * when no rate meets it. */
  private def ladder(ctx: Ctx, r: Report, lg: LoadGen, serving: Serving): Unit = {
    var best = 0.0
    // from slot 5, so that every step sends an `other` request
    var offset = 1000005L
    LadderRates.takeWhile { rate =>
      val s = lg.run(rate, LadderSeconds, i => serving.request(ctx.seed, offset + i), serving.check)
      offset += 1000000L
      countSamples(r, s)
      val sorted = s.sortBy(_.dueNs)
      val q = math.max(1, sorted.size / 4)
      val growth = Stats.median(sorted.takeRight(q).map(_.lateMs)) - Stats.median(sorted.take(q).map(_.lateMs))
      val ok = LoadGen.pct(s, 0.9) <= LatencyLimitMs && growth <= 100.0
      if (ok) best = s.size / ((sorted.last.endNs - sorted.head.dueNs) / 1e9)
      ok
    }
    r.put("http.max_rps", best, "1/s")
  }

  /** Read-only serving from a prebuilt store. Nothing mutates it, so
    * the lookup cache answers the repeated hot keys. */
  def serveHot(ctx: Ctx, r: Report): Unit = {
    import ctx._
    val tip = Prebuilt - 1
    val t0 = System.nanoTime()
    val store = new TimedStore(spark, ctx.dir("serve") + "/store", Bucket, trace)
    IngestRig.prebuild(spark, store, Prebuilt)
    System.err.println(f"[perfbench] set-up: store of $Prebuilt blocks built in ${secs(t0)}%.2f s")
    val cache = new LookupCache(version = () => store.mutationCount)
    val srv = server(ctx, store, cache)
    val serving = new Serving(tip, hotBlocks = 64, hotShare = 0.8)
    val lg = new LoadGen(s"http://127.0.0.1:${srv.boundPort}", cores, trace)
    // warm-up: the repeated keys and one /logs request, which also pay
    // for JIT, codegen and the first listings (with fewer, the first
    // timed requests ran cold and the pooled p50 spread across seeds
    // grew from 5% to 24%)
    val warmUp = serving.repeats :+ Iterator.from(0).map(i => serving.request(seed + 17, i)).find(_.route == "logs").get
    countSamples(r, warmUp.map(q => lg.send(q, trace.nowNs, serving.check)))
    r.put("setup_s", setupSeconds(secs(t0)), "s")
    try {
      val c0 = cacheCounts(cache)
      val (cpu0, client0) = (Main.javaThreadsCpu(), lg.cpuNs)
      val samples = lg.closed(seconds, i => serving.request(seed, i), serving.check)
      val cpuNs = Main.cpuSinceNs(cpu0) - (lg.cpuNs - client0)
      countSamples(r, samples)
      val lookups = samples.filter(s => Set("block", "tx", "logs")(s.route))
      // the mean over the phase, not the median: of eight requests the
      // median falls on a block or a tx lookup depending on the seed's
      // keys
      r.put("wall_ms_per_op", lookups.map(_.latencyMs).sum / lookups.size, "ms")
      r.put("cpu_ms_per_op", cpuNs / 1e6 / samples.size, "ms")
      r.put("http.pooled_p50_ms", LoadGen.pct(lookups, 0.5), "ms")
      if (!traced) r.put("mem.heap_live_mb", Main.heapLiveMb(), "MB")
      else {
        trace.enabled = true
        val ta = snap(ctx, None, Some(store))
        val tracedSamples = lg.closed(seconds, i => serving.request(seed, 500000L + i), serving.check)
        val tb = snap(ctx, None, Some(store))
        trace.enabled = false
        countSamples(r, tracedSamples)
        settle()
        overhead(r, LoadGen.pct(samples, 0.5), LoadGen.pct(tracedSamples, 0.5), lowerIsBetter = true)
        // over both measured phases: ten requests, two of them repeats
        cacheLayers(r, cache, c0)
        serveLayers(r, lg, tracedSamples, ta, tb, trace.all)
        r.put("store.read_ms", (tb.counters.getOrElse("store.read.ns", 0L) - ta.counters.getOrElse("store.read.ns", 0L)) / 1e6 /
          math.max(1L, tb.counters.getOrElse("store.read.calls", 0L) - ta.counters.getOrElse("store.read.calls", 0L)), "ms")
        storeShape(r, store, Prebuilt)
        singleClientPass(ctx, r, lg, serving)
        ladder(ctx, r, lg, serving)
      }
    } finally { srv.stop(); store.close() }
  }
}
