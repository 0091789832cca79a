package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval opened by the benchmark around one call into a module.
  * Times are wall-clock microseconds since the epoch; `attrs` holds the
  * counters recorded at the span's end boundary. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long,
                      var endUs: Long = 0L,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing. Spans are written out once, at exit. */
final class Tracer(val enabled: Boolean) {
  private val originNanos = System.nanoTime()
  private val originMicros = System.currentTimeMillis() * 1000L
  def nowUs: Long = originMicros + (System.nanoTime() - originNanos) / 1000L

  val spans = ArrayBuffer.empty[Span]
  /** Id of the innermost open span (0 = none); read by listener threads. */
  @volatile var current: Int = 0
  /** Called at every span end so listener events land in the span that
    * caused them (set once the Spark listeners are registered). */
  var drain: () => Unit = () => ()

  def span[T](name: String)(body: => T): T = spanWith(name)(body)(_ => Nil)

  /** Like [[span]], with counters computed from the body's result after the
    * span's end time is taken (so counting costs no layer time). */
  def spanWith[T](name: String)(body: => T)(attrs: T => Seq[(String, Double)]): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, current, name, nowUs)
      spans += s
      current = s.id
      val out = try body finally {
        s.endUs = nowUs
        drain()
        current = s.parent
      }
      attrs(out).foreach { case (k, v) => s.attrs(k) = v }
      out
    }
}

final case class TaskRec(span: Int, stage: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         spillBytes: Long)
final case class JobRec(span: Int, startMs: Long, endMs: Long)
final case class QueryRec(span: Int, name: String, joinRows: Long, encodeRows: Long)

/** Spark-side counters for the traced run: every job and task from the
  * scheduler, and per query the rows out of join operators and the rows fed
  * to the `img_synth` encoder, read from the final (adaptive) plan. Each
  * event is attributed to the span open when it is delivered; [[Tracer]]
  * drains the listener bus at every span end. */
final class Recorder(tracer: Tracer) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[JobRec]
  val queries = ArrayBuffer.empty[QueryRec]
  private val jobStarts = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += JobRec(tracer.current, jobStarts.remove(e.jobId).getOrElse(e.time), e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(tracer.current, e.stageId,
      e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    val joinRows = nodes.collect { case j: BaseJoinExec => metric(j, "numOutputRows") }.sum
    val encodeRows = nodes.filter(_.expressions.exists(_.exists(_.prettyName == "img_synth")))
      .map(p => rowsInto(p.children.headOption)).sum
    synchronized { queries += QueryRec(tracer.current, funcName, joinRows, encodeRows) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows a node received from `child`: the first row count found walking
    * down through row-preserving wrappers (codegen input adapters, AQE
    * reads and query stages, shuffle exchanges). */
  private def rowsInto(child: Option[SparkPlan]): Long = child match {
    case None => 0L
    case Some(p) if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case Some(s: ShuffleExchangeLike) => metric(s, "shuffleRecordsWritten")
    case Some(q: QueryStageExec) => rowsInto(Some(q.plan))
    case Some(p) if p.children.size == 1 => rowsInto(p.children.headOption)
    case _ => 0L
  }

  def register(sc: SparkContext, spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    tracer.drain = () => org.apache.spark.perfbench.ListenerBusDrain(sc)
  }
}
