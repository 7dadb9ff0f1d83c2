package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, InputAdapter, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Half-open wall-clock interval in epoch milliseconds. */
final case class Span(start: Long, end: Long) {
  def ms: Long = math.max(0L, end - start)
}

object Span {
  /** Total length covered by `spans` (overlaps counted once). */
  def unionMs(spans: Seq[Span]): Long = {
    var total, curS, curE = 0L
    var open = false
    spans.filter(_.ms > 0).sortBy(_.start).foreach { s =>
      if (open && s.start <= curE) curE = math.max(curE, s.end)
      else {
        if (open) total += curE - curS
        curS = s.start; curE = s.end; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Length of the part of `outer` that `spans` cover. */
  def coveredMs(outer: Span, spans: Seq[Span]): Long =
    unionMs(spans.map(s => Span(math.max(s.start, outer.start), math.min(s.end, outer.end))))

  /** `spans` minus whatever `cut` covers, as a list of pieces. */
  def minus(spans: Seq[Span], cut: Seq[Span]): Seq[Span] = {
    val cuts = cut.filter(_.ms > 0).sortBy(_.start)
    spans.flatMap { s =>
      var pieces = List(s)
      cuts.foreach { c =>
        pieces = pieces.flatMap { p =>
          if (c.end <= p.start || c.start >= p.end) List(p)
          else List(Span(p.start, c.start), Span(c.end, p.end)).filter(_.ms > 0)
        }
      }
      pieces
    }
  }
}

/** Counters and spans gathered for one unit of work (a key execution, or a
  * streaming phase) from Spark's listener buses. Times from Spark events
  * are epoch milliseconds; task metrics keep Spark's units until reported. */
final class Bucket {
  val jobs = mutable.ArrayBuffer.empty[Span]
  val jobStarts = mutable.ArrayBuffer.empty[Long]
  var stages, tasks = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var taskCpuNs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakExecMem = 0L
  var bytesRead, recordsRead, scanRunMs, bytesWritten = 0L
  val phases = mutable.ArrayBuffer.empty[(String, Span)]
  var actions = 0L
  var filesWritten, writeNs = 0L
  var kernelStageMs, kernelRows, broadcastBytes = 0L
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
}

/** The benchmark's own listeners: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (actions, plan phases, writes, kernels) and a
  * StreamingQueryListener (micro-batch progress). They are registered only
  * while tracing, and only by the benchmark; nothing in the engine is
  * instrumented. Events go into the current [[Bucket]]; the runner drains the
  * listener bus before harvesting, so every event of a unit lands in its
  * bucket. */
final class Trace(spark: SparkSession) {
  @volatile private var cur = new Bucket

  /** Returns the bucket filled so far and starts a new one. */
  def harvest(): Bucket = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val b = cur
    cur = new Bucket
    b
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      cur.jobStarts += e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val b = cur
      if (b.jobStarts.nonEmpty) {
        val s = b.jobStarts.remove(0)
        b.jobs += Span(s, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      cur.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val b = cur
      val m = e.taskMetrics
      val info = e.taskInfo
      b.tasks += 1
      b.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      if (m != null) {
        b.taskCpuNs += m.executorCpuTime
        b.gcMs += m.jvmGCTime
        b.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        b.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        b.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        b.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        b.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        b.peakExecMem = math.max(b.peakExecMem, m.peakExecutionMemory)
        b.bytesRead += m.inputMetrics.bytesRead
        b.recordsRead += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) b.scanRunMs += m.executorRunTime
        b.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Every physical node of an executed plan, through AQE wrappers, query
    * stages and command results. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows fed into `p`: the output count of the nearest node below it that
    * counts rows (projections inside a codegen stage keep no counter). */
  private def rowsInto(p: SparkPlan): Long =
    p.children.headOption.map { c =>
      if (c.metrics.contains("numOutputRows")) metric(c, "numOutputRows") else rowsInto(c)
    }.getOrElse(0L)

  private def isKernel(p: SparkPlan): Boolean = p.expressions.exists(_.toString.contains("graft_"))

  /** The nodes fused into one codegen stage (its inputs end it). */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stageNodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val b = cur
        b.actions += 1
        qe.tracker.phases.foreach { case (name, ph) =>
          b.phases += name -> Span(ph.startTimeMs, ph.endTimeMs)
        }
        val all = nodes(qe.executedPlan)
        val writes = all.filter { n =>
          val c = n.getClass.getSimpleName
          c.contains("DataWritingCommandExec") || c.contains("WriteFiles") ||
            c.contains("AppendDataExec") || c.contains("OverwriteByExpressionExec")
        }
        if (writes.nonEmpty) {
          b.writeNs += durationNs
          b.filesWritten += writes.map(metric(_, "numFiles")).sum
        }
        val kernels = all.filter(isKernel)
        b.kernelRows += kernels.map(rowsInto).sum
        b.kernelStageMs += all.collect {
          case w: WholeStageCodegenExec if stageNodes(w.child).exists(isKernel) =>
            metric(w, "pipelineTime")
        }.sum
        b.broadcastBytes += all.collect { case x: BroadcastExchangeExec => metric(x, "dataSize") }.sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      synchronized { cur.actions += 1 }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { cur.progress += e.progress }
  }

  @volatile private var on = false

  def enable(): Unit = if (!on) {
    harvest()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def disable(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }
}
