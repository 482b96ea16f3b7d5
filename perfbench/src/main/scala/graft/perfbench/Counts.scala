package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** The Spark work of the timed iterations: jobs, tasks, and bytes the
  * tasks read from storage. A job counts when the thread that started it
  * had the `Counts.Timed` local property set; threads an op starts inherit
  * it, a streaming query's thread included. A task counts when its stage
  * belongs to such a job. Unlike times, these counts do not depend on how
  * fast the host ran, so they are attached with tracing on or off. */
final class Counts(spark: SparkSession) {
  import Counts._

  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val bytesRead = new AtomicLong
  private val timedStages = TrieMap.empty[Int, Unit]
  private val drainJobs = TrieMap.empty[Int, Int]
  @volatile private var drained = 0
  private var drains = 0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Drain))).foreach(n => drainJobs(e.jobId) = n.toInt)
      if (props.exists(_.getProperty(Timed) != null)) {
        jobs.incrementAndGet()
        e.stageIds.foreach(timedStages(_) = ())
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      drainJobs.get(e.jobId).foreach(n => drained = n)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (timedStages.contains(e.stageId)) {
        tasks.incrementAndGet()
        if (e.taskMetrics != null) bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
  })

  /** Run `body` with its Spark work counted. */
  def timed[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Timed, "1")
    try body finally sc.setLocalProperty(Timed, null)
  }

  /** Wait until the listener bus has delivered every event posted so far,
    * to this listener and to every other one on the bus: run one tiny job
    * marked as a drain and wait for its end event. */
  def drain(): Unit = {
    drains += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Drain, drains.toString)
    try spark.range(1).count() finally sc.setLocalProperty(Drain, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (drained < drains && System.nanoTime() < deadline) Thread.sleep(10)
  }
}

object Counts {
  val Timed = "perfbench.timed"
  val Drain = "perfbench.drain"
}
