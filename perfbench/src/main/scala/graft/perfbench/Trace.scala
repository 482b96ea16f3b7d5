package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import scala.collection.mutable

/** Span recorder for the traced run. Spans are opened only around the
  * benchmark's own calls into the program's modules; each one sets the
  * Spark job group to its id, so the listener below can attribute every
  * SQL execution, job, stage and task to the span that caused it. Records
  * stay in memory and are written once, at the end of the run, after
  * `Counts.drain` has let the listener catch up.
  *
  * Times are epoch milliseconds with sub-millisecond precision, on the
  * same clock as the listener event times. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val lock = new Object
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  /** Run `body` inside a span. With tracing off this only times it. */
  def span[T](name: String, layer: String, phase: String, iter: Int)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, layer,
      phase, iter, nowMs, Double.NaN)
    spans += s
    open.push(s)
    spark.sparkContext.setJobGroup(s"pb${s.id}", name)
    try body
    finally {
      s.end = nowMs
      open.pop()
      open.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(s"pb${p.id}", p.name)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  // ---- listener state (written from the listener bus thread) ----
  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.Map.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  val execGroup = mutable.Map.empty[Long, String]
  val execPlanMs = mutable.Map.empty[Long, Double]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(e.jobId, group.orNull, e.time.toDouble, Double.NaN)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val st = stages.getOrElseUpdate(e.stageId,
        Stage(e.stageId, stageJob.getOrElse(e.stageId, -1)))
      val info = e.taskInfo
      val m = e.taskMetrics
      st.tasks += 1
      if (info.failed || info.killed) st.failures += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        st.schedMs += math.max(0L, info.duration - busy) +
          m.shuffleReadMetrics.fetchWaitTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized { s.jobGroupId.foreach(g => execGroup(s.executionId) = g) }
      case s: SparkListenerSQLExecutionEnd =>
        QeOfEnd.invoke(s) match {
          case qe: QueryExecution =>
            val phases = qe.tracker.phases
            lock.synchronized {
              execPlanMs(s.executionId) = Seq("parsing", "analysis", "optimization", "planning")
                .flatMap(phases.get).map(_.durationMs.toDouble).sum
            }
          case _ => ()
        }
      case _ => ()
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  def detach(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** The trace as JSON: spans, jobs, stages and SQL executions. */
  def toJson: JValue = lock.synchronized {
    val sp = spans.toList.map(s =>
      ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~ ("layer" -> s.layer) ~
        ("phase" -> s.phase) ~ ("iter" -> s.iter) ~ ("start" -> Json.num(s.start)) ~
        ("end" -> Json.num(s.end)) ~ ("written_bytes" -> s.writtenBytes) ~
        ("files_written" -> s.filesWritten))
    val jb = jobs.values.toList.sortBy(_.id).map(j =>
      ("id" -> j.id) ~ ("group" -> Json.str(j.group)) ~ ("start" -> Json.num(j.start)) ~
        ("end" -> Json.num(j.end)))
    val st = stages.values.toList.sortBy(_.id).map(s =>
      ("id" -> s.id) ~ ("job" -> s.job) ~ ("tasks" -> s.tasks) ~ ("failures" -> s.failures) ~
        ("run_ms" -> s.runMs) ~ ("sched_ms" -> s.schedMs) ~ ("shuffle_bytes" -> s.shuffleBytes) ~
        ("spill_bytes" -> s.spillBytes))
    val ex = (execGroup.keySet ++ execPlanMs.keySet).toList.sorted.map(id =>
      ("id" -> id) ~ ("group" -> Json.str(execGroup.getOrElse(id, null))) ~
        ("plan_ms" -> execPlanMs.getOrElse(id, 0.0)))
    ("spans" -> sp) ~ ("jobs" -> jb) ~ ("stages" -> st) ~ ("executions" -> ex)
  }
}

object Trace {
  /** The query an SQL execution ran, as the execution's end event carries
    * it (the same object a QueryExecutionListener is handed; the listener
    * itself cannot be used, because it gets no SQL execution id to join
    * on, and QueryExecution.id is a different counter). The accessor is
    * package-private to Spark in Scala but public in bytecode. */
  private val QeOfEnd = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  final case class Span(id: Int, parent: Int, name: String, layer: String,
      phase: String, iter: Int, start: Double, var end: Double,
      var writtenBytes: Long = 0L, var filesWritten: Long = 0L)

  final case class Job(id: Int, group: String, start: Double, var end: Double)

  final case class Stage(id: Int, job: Int, var tasks: Long = 0L,
      var failures: Long = 0L, var runMs: Long = 0L, var schedMs: Long = 0L,
      var shuffleBytes: Long = 0L, var spillBytes: Long = 0L)
}

/** JSON helpers for the run record: null strings and unfinished times
  * (NaN) are written as JSON null. */
object Json {
  def str(s: String): JValue = if (s == null) JNull else JString(s)

  def num(v: Double): JValue = if (java.lang.Double.isFinite(v)) JDouble(v) else JNull

  def write(v: JValue): String = compact(render(v))
}
