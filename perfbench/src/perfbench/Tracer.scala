package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** executor run time in stages that ran a single task */
  var serialStageMs = 0L
  /** largest aggregate-expression count of any executed aggregate */
  var maxAggExprs = 0
  /** rows written and partitions of explicit `repartition(n)` exchanges */
  var repartitionRows = 0L
  var repartitionParts = 0
  /** streaming progress events */
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
}

/** A timed region around one layer's public call. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      start: Long, var end: Long, counters: Counters) {
  def seconds: Double = (end - start) / 1e9
}

/**
 * In-memory span recorder with listener counters. Spark, SQL and
 * streaming listener events are attributed to the span that is open when
 * they are processed; `span` drains the listener bus when it opens and
 * closes, so every event a synchronous call posts lands in its own span.
 */
final class Tracer(sc: SparkContext, val run: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile private var active: Option[Counters] = None
  private val stageTasks = mutable.Map[Int, Int]()

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[A](name: String)(body: => A): A = {
    drain()
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, run, System.nanoTime(), 0L, new Counters)
    spans += s
    stack = s :: stack
    active = Some(s.counters)
    try body
    finally {
      drain()
      s.end = System.nanoTime()
      stack = stack.tail
      active = stack.headOption.map(_.counters)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def seconds(name: String): Double = named(name).map(_.seconds).sum

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(name: String): Double = named(name).map { s =>
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
  }.sum

  /** Counters of the named spans and all their descendants, summed. */
  def counters(name: String): Counters = {
    val ids = mutable.Set(named(name).map(_.id): _*)
    spans.foreach(s => if (ids(s.parent)) ids += s.id)
    val c = new Counters
    spans.filter(s => ids(s.id)).map(_.counters).foreach { x =>
      c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks; c.cpuNs += x.cpuNs
      c.runMs += x.runMs; c.gcMs += x.gcMs; c.shuffleWriteBytes += x.shuffleWriteBytes
      c.spillBytes += x.spillBytes; c.serialStageMs += x.serialStageMs
      c.maxAggExprs = math.max(c.maxAggExprs, x.maxAggExprs)
      c.repartitionRows += x.repartitionRows
      c.repartitionParts = math.max(c.repartitionParts, x.repartitionParts)
      c.progress ++= x.progress
    }
    c
  }

  /** JSON lines, one span each, for the trace file. */
  def json: Seq[String] = spans.toSeq.map { s =>
    val c = s.counters
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run":"${s.run}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${c.jobs},"stages":${c.stages},""" +
      s""""tasks":${c.tasks},"cpu_ns":${c.cpuNs},"shuffle_write_bytes":${c.shuffleWriteBytes}}"""
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = active.foreach(_.jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = active.foreach { c =>
      c.stages += 1
      stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = active.foreach { c =>
      val m = e.taskMetrics
      if (m != null) {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (stageTasks.getOrElse(e.stageId, Int.MaxValue) == 1) c.serialStageMs += m.executorRunTime
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      active.foreach { c =>
        val n = collect(qe.executedPlan) { case a: BaseAggregateExec => a.aggregateExpressions.size }
        c.maxAggExprs = (c.maxAggExprs +: n).max
        collect(qe.executedPlan) {
          case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
        }.foreach { e =>
          c.repartitionRows += e.metrics.get("shuffleRecordsWritten").fold(0L)(_.value)
          c.repartitionParts = math.max(c.repartitionParts, e.numPartitions)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      active.foreach(_.progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
