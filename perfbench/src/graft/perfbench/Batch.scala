package graft.perfbench

import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry

/** `batch_registry`: timed passes over registry entries with the
  * noop-write action, after the untimed shared-base prelude. Every
  * entry's result is hashed and compared with a hash verified against
  * the DuckDB oracle (`expected.json` beside the data). */
object Batch {

  /** A fixed slice of the registry, one entry per operator family,
    * chosen so that a pass fits the run: the whole registry takes
    * about two minutes a pass on 4 cores. It covers the `graft.ops`
    * families (AnnIndex, Similarity, Dedup, Curation, text,
    * multimodal, classifier) plus a `/logs` plan. */
  val Entries: Seq[String] = Seq(
    "topk_ivf", "topk_indexed", "dedup_minhash", "curate_inc",
    "text_quality", "mm_pixels", "clf", "logs_cursor")

  def family(name: String): String = name.takeWhile(_ != '_')

  /** Order-sensitive hash of a result: columns by name, one line per row. */
  def hash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val md = MessageDigest.getInstance("SHA-256")
    df.select(cols.map(df.col).toIndexedSeq: _*).collect().foreach { r =>
      md.update((0 until r.length).map(i => render(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case x => x.toString
  }

  def expected(dataDir: String): Map[String, String] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(dataDir, "expected.json"))
    Entries.map(e => e -> tree.get(e).asText()).toMap
  }

  def prelude(spark: SparkSession, dir: String): Unit = {
    val docs = graft.tables.Fixtures.documents(spark, dir)
    graft.ops.Dedup.prewarmShared(docs)
    graft.ops.Curation.sharedFeatureRows(docs, graft.queries.SpanQueries.ClassifierDim)
      .write.mode("overwrite").format("noop").save()
    graft.ops.Curation.sharedQualityRows(docs).write.mode("overwrite").format("noop").save()
  }

  def run(ctx: Ctx, r: Report): Unit = {
    import ctx._
    val dir = data
    val queries = SparkEntry.queries
    val want = expected(dir)
    def check(name: String): Unit = {
      r.attempted += 1
      val got = try hash(queries(name)(spark, dir)) catch { case e: Exception => s"error: $e" }
      if (got != want(name)) r.fail(s"$name result hash $got, expected ${want(name)}")
    }
    val t0 = System.nanoTime()
    graft.tables.Fixtures.events(spark, dir).limit(100).write.mode("overwrite").format("noop").save()
    val p0 = System.nanoTime()
    prelude(spark, dir)
    val preludeS = (System.nanoTime() - p0) / 1e9
    /** One pass in a fixed order; entry name -> seconds. */
    def pass(): Seq[(String, Double)] = Entries.map { name =>
      SparkProbe.tag(spark.sparkContext, name)
      trace.withRoot(name) {
        trace.span("batch.entry", "batch") {
          val s0 = System.nanoTime()
          try {
            queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
            name -> (System.nanoTime() - s0) / 1e9
          } catch { case e: Exception =>
            r.fail(s"$name failed: $e"); name -> Double.NaN
          }
        }
      }
    }
    // untimed: a pass that checks every result and pays the one-time
    // index and cache builds, then a pass that lets the JIT settle (the
    // first noop pass after the check runs about 20% slower)
    val c0 = System.nanoTime()
    Entries.foreach(check)
    val j0 = System.nanoTime()
    pass()
    System.err.println(f"[perfbench] set-up: prelude $preludeS%.2f s, checked pass ${(j0 - c0) / 1e9}%.2f s, " +
      f"warm-up pass ${(System.nanoTime() - j0) / 1e9}%.2f s")
    r.attempted += Entries.size
    r.put("setup_s", setupSeconds((System.nanoTime() - t0) / 1e9), "s")

    /** At least two passes, and more while `seconds` last. Untraced,
      * each pass also reports its Java threads' CPU seconds, read once the
      * listener bus has delivered the pass's events; traced, no pause
      * lies between passes. */
    def passes(traced: Boolean): (Seq[Seq[(String, Double)]], Seq[Double], Workloads.Snap, Workloads.Snap) = {
      trace.enabled = traced
      Workloads.settle() // events of the passes before land outside the window
      val a = Workloads.snap(ctx, None, None)
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = ArrayBuffer.empty[(Seq[(String, Double)], Double)]
      while (out.size < 2 || System.nanoTime() < end) {
        val c0 = Main.javaThreadsCpu()
        val p = pass()
        if (!traced) Workloads.settle()
        out += p -> Main.cpuSinceNs(c0) / 1e9
      }
      val b = Workloads.snap(ctx, None, None)
      trace.enabled = false
      r.attempted += out.size * Entries.size
      out.zipWithIndex.foreach { case ((p, cpu), i) =>
        System.err.println(f"[perfbench] pass $i: wall ${p.map(_._2).sum}%.3f s, cpu $cpu%.3f s, " +
          p.map { case (n, t) => f"$n=$t%.3f" }.mkString(" "))
      }
      (out.map(_._1).toSeq, out.map(_._2).toSeq, a, b)
    }
    def total(p: Seq[(String, Double)]) = p.map(_._2).sum
    val (ps, cpus, _, _) = passes(traced = false)
    // the mean pass over the whole window: the host's single-core speed
    // swings by a fifth from second to second, and the median of three
    // passes of about 3.5 s each followed those swings (ten-seed spread
    // 0.22, against 0.12 for the mean)
    r.put("wall_ms_per_op", ps.map(total).sum / ps.size * 1e3, "ms")
    r.put("cpu_ms_per_op", cpus.sum / cpus.size * 1e3, "ms")
    r.put("batch.total_s", Stats.median(ps.map(total)), "s")
    if (!traced) r.put("mem.heap_live_mb", Main.heapLiveMb(), "MB")
    if (traced) {
      val (tps, _, a, b) = passes(traced = true)
      Workloads.settle()
      val n = tps.size.toDouble
      Workloads.overhead(r, Stats.median(ps.map(total)), Stats.median(tps.map(total)), lowerIsBetter = true)
      Entries.map(family).distinct.sorted.foreach { f =>
        r.put(s"batch.family.${f}_s", Stats.median(tps.map(_.filter(e => family(e._1) == f).map(_._2).sum)), "s")
      }
      val planningS = (b.planningNs - a.planningNs) / 1e9 / n
      val spans = trace.all.filter(s => s.thread == Trace.threadKey && s.startNs >= a.ns && s.endNs <= b.ns)
      val jobS = Workloads.unionNs(spans.filter(_.name == "spark.job").map(s => (s.startNs, s.endNs))) / 1e9 / n
      r.put("batch.planning_s", planningS, "s")
      r.put("batch.jobs", (b.jobs - a.jobs) / n, "count")
      r.put("batch.task_run_s", (b.taskRunMs - a.taskRunMs) / 1e3 / n, "s")
      r.put("batch.driver_gap_s", tps.map(total).sum / n - jobS - planningS, "s")
      r.put("batch.shuffle_write_bytes", (b.shuffleWrite - a.shuffleWrite) / n, "B")
      r.put("batch.spill_bytes", (b.spill - a.spill) / n, "B")
      r.put("batch.prelude_s", preludeS, "s")
      r.put("jvm.gc_ms", (b.gcMs - a.gcMs).toDouble, "ms")
      Workloads.layerTable(r, "batch", Trace.selfTimesMs(spans), (b.ns - a.ns) / 1e6,
        Seq("batch.entry", "spark.job-in-batch.entry"))
    }
  }
}

/** Writes `expected.json` for [[Batch.Entries]]: run once, after the
  * same entries passed the DuckDB differential check
  * (`graft.Verify` + `tools/check_correctness.py`) on the same data.
  * Usage: `BatchExpected <sfDir>`. */
object BatchExpected {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    Batch.prelude(spark, dir)
    val hashes = Batch.Entries.map(e => s"""  "$e": "${Batch.hash(SparkEntry.queries(e)(spark, dir))}"""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "expected.json"), hashes.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
