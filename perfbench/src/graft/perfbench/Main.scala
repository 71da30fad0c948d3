package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Metrics of one run, in the order they are reported. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fail(problem: String): Unit = { failed += 1; problems += problem }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, traced: Boolean,
                     work: String, data: String, cores: Int, trace: Trace, probe: SparkProbe,
                     jvmStartMs: Long, sparkReadyMs: Long) {
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }
  /** Set-up time: JVM and Spark start plus the workload's own set-up. */
  def setupSeconds(workloadS: Double): Double = {
    System.err.println(f"[perfbench] set-up: spark ${(sparkReadyMs - jvmStartMs) / 1e3}%.2f s, workload $workloadS%.2f s")
    (sparkReadyMs - jvmStartMs) / 1e3 + workloadS
  }
}

/** Entry point: `Main --workload W --seed N --seconds S --trace 0|1
  * --out result.json --work DIR --data SFDIR`. Writes one JSON object
  * with `correct`, `attempted`, `failed`, `metrics` (plus the traced
  * per-layer table under `layers`) to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(opts("work"), "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(opts("work"), "spark-local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(opts("work"), "hadoop").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(false)
    val probe = new SparkProbe(trace)
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
      opts("work"), opts.getOrElse("data", ""), cores, trace, probe,
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime, System.currentTimeMillis())
    val report = new Report
    try workload match {
      case "backfill" => Workloads.backfill(ctx, report)
      case "serve_hot" => Workloads.serveHot(ctx, report)
      case "batch_registry" => Batch.run(ctx, report)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.fail(s"workload aborted: $e")
    }
    Files.writeString(Paths.get(opts("out")), render(report))
    if (ctx.traced) trace.export(Paths.get(opts("work"), "spans.jsonl"))
    report.problems.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    System.err.println(f"[perfbench] workload done at ${(System.currentTimeMillis() - ctx.jvmStartMs) / 1e3}%.1f s after JVM start")
    spark.stop()
    sys.exit(0) // leave no non-daemon thread behind
  }

  /** CPU time of every live Java thread, by thread id, in ns. The
    * JVM's own JIT compiler and garbage collector threads are not Java
    * threads and are left out. */
  def javaThreadsCpu(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** CPU time the Java threads spent since `before`, in ns: a thread
    * started since counts whole, one that ended since is lost. */
  def cpuSinceNs(before: Map[Long, Long]): Long =
    javaThreadsCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  /** CPU time of the calling thread, in ns. */
  def threadCpuNs(): Long = java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** Used heap after an explicit full GC. A pause between two
    * collections lets Spark's `ContextCleaner` drop the broadcasts and
    * shuffles the first one found unreachable, which the second then
    * frees. */
  def heapLiveMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def render(r: Report): String = {
    val attempted = math.max(1L, r.attempted)
    val frac = r.failed.toDouble / attempted
    val ms = (r.metrics.toSeq :+ ("ops.failed_frac" -> (frac, "1")))
      .map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val problems = r.problems.take(20).map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"")
    s"""{"correct":${r.failed == 0},"attempted":$attempted,"failed":${r.failed},""" +
      s""""metrics":{${ms.mkString(",")}},"problems":[${problems.mkString(",")}]}"""
  }
}
