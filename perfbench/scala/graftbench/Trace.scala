package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary: `parent` is the enclosing span's id
  * (0 at the top). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Span recorder for one client thread. Spans stay in memory until the
  * run ends. Each open span's id is set as a Spark local property, so a
  * job is tied to the span that launched it. When off, `apply` only runs
  * its body. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var nextId = 0L

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, if (parent == 0L) null else parent.toString)
      }
    }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Job, stage and task counters from Spark's public listener interface.
  * Fields are written on the listener-bus thread and read only after
  * [[org.apache.spark.graftbench.Bus.drain]]. */
final class JobListener extends SparkListener {
  /** (job id, span id, start ms, end ms) — epoch milliseconds. */
  val jobs = mutable.LinkedHashMap[Int, Array[Long]]()
  val c = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = Array(e.jobId.toLong, span, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_(3) = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c("stages") += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks") += 1
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      c("task_run_ms") += m.executorRunTime
      c("task_cpu_ns") += m.executorCpuTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("input_records") += m.inputMetrics.recordsRead
      // Spark UI's definition: task wall time not spent running,
      // deserializing, serializing the result or shipping it back
      val fetch = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      c("scheduler_delay_ms") += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
    }
  }
}

/** Catalyst phase times of every executed query, from `qe.tracker`. */
final class PhaseListener extends QueryExecutionListener {
  val c = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)

  private def add(qe: QueryExecution): Unit = synchronized {
    c("queries") += 1
    for ((phase, s) <- qe.tracker.phases) c(s"${phase}_ms") += s.durationMs
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}
