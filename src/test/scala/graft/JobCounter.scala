package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs started while it is registered as a listener,
  * apart from its own marker jobs. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val Marker = "job-counter-marker"
  private val jobs = new AtomicInteger()
  private val markers = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker))
      markers.incrementAndGet()
    else jobs.incrementAndGet()

  /** Run a marker job and wait until the listener has seen it. The bus
    * delivers events in order, so every job submitted before the marker
    * has been counted by then. Returns the count so far. */
  def settle(): Int = {
    val want = markers.get() + 1
    val sc = spark.sparkContext
    sc.setJobGroup(Marker, "flush the listener bus")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markers.get() < want) {
      assert(System.nanoTime() < deadline, "the listener never saw the marker job")
      Thread.sleep(10)
    }
    jobs.get()
  }
}
