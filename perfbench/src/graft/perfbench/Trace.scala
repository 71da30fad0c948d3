package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `thread` is the thread the
  * work ran on; spans on one thread nest by time. `root` groups the
  * spans of one request or ingest cycle. Times are epoch nanoseconds. */
final case class Span(name: String, layer: String, thread: String, root: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span and counter store. Spans are only kept while
  * `enabled`; counters are always kept, since some of them feed the
  * end-to-end metrics. The thread-local `root` names the request or
  * cycle that spans opened on this thread belong to. */
final class Trace(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val currentRoot = new ThreadLocal[String] { override def initialValue() = "" }

  /** Epoch nanoseconds on the monotonic clock. */
  val originNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = originNs + System.nanoTime()

  def count(name: String, n: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(n)
  def counterValues: Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def withRoot[T](root: String)(f: => T): T = {
    val prior = currentRoot.get()
    currentRoot.set(root)
    try f finally currentRoot.set(prior)
  }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = nowNs
      try f finally add(Span(name, layer, Trace.threadKey, currentRoot.get(), t0, nowNs))
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** The kept spans as JSON lines. */
  def export(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, all.sortBy(_.startNs).map { s =>
      s"""{"name":"${s.name}","layer":"${s.layer}","thread":"${s.thread}","root":"${s.root}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.asJava)
}

object Trace {
  /** Thread name with the per-query suffix of Spark's stream thread
    * cut, so every ingest cycle shares one key. */
  def threadKey: String = {
    val n = Thread.currentThread().getName
    if (n.startsWith("stream execution thread")) "stream" else n
  }

  /** Self time per span name: spans on one thread nest by time, and a
    * span's self time is its duration minus its children's. A Spark
    * job's row names the span it ran under (`spark.job-in-store.read`),
    * or none (`spark.job`). */
  def selfTimesMs(spans: Seq[Span]): Map[String, Double] = {
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.groupBy(_.thread).values.foreach { ss =>
      val sorted = ss.sortBy(s => (s.startNs, -s.endNs))
      // stack of (span, child time so far)
      val stack = scala.collection.mutable.ArrayStack.empty[(Span, Array[Long])]
      def close(): Unit = {
        val (s, kids) = stack.pop()
        // a job that overlaps another job counts where the outer one does
        val under = stack.iterator.map(_._1.name).find(_ != "spark.job")
        val key = if (s.name == "spark.job") under.fold(s.name)(p => s"spark.job-in-$p") else s.name
        out(key) += math.max(0L, s.durNs - kids(0)) / 1e6
        if (stack.nonEmpty) stack.top._2(0) += s.durNs
      }
      sorted.foreach { s =>
        while (stack.nonEmpty && stack.top._1.endNs <= s.startNs) close()
        // a span that overlaps its would-be parent's end is clipped
        val c = if (stack.nonEmpty && s.endNs > stack.top._1.endNs) s.copy(endNs = stack.top._1.endNs) else s
        stack.push((c, Array(0L)))
      }
      while (stack.nonEmpty) close()
    }
    out.toMap
  }
}

/** Records every Spark job as a span on the thread that submitted it
  * (taken from the `perfbench.thread` local property, or the streaming
  * query's properties), plus task, shuffle, spill and planning totals. */
final class SparkProbe(trace: Trace) extends SparkListener with QueryExecutionListener {
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, String)]()
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  val taskRunMs = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val planningNs = new AtomicLong()
  val recordsRead = new AtomicLong()
  val bytesRead = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = e.properties
    def prop(k: String) = Option(if (p == null) null else p.getProperty(k))
    val thread = prop("sql.streaming.queryId").map(_ => "stream")
      .orElse(prop(SparkProbe.ThreadProp)).getOrElse("main")
    jobStart.put(e.jobId, (e.time, thread, prop(SparkProbe.RootProp).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, thread, root) =>
      trace.add(Span("spark.job", "spark", thread, root, t0 * 1000000L, e.time * 1000000L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planningNs.addAndGet(qe.tracker.phases.values.map(p => p.durationMs).sum * 1000000L)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe {
  val ThreadProp = "perfbench.thread"
  val RootProp = "perfbench.root"

  /** Tag jobs submitted from this thread with its key and root. */
  def tag(sc: SparkContext, root: String): Unit = {
    sc.setLocalProperty(ThreadProp, Trace.threadKey)
    sc.setLocalProperty(RootProp, root)
  }
}
