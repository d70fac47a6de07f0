package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A recorded interval, in milliseconds since the run started (`t0Millis`). */
final case class Span(id: Int, parent: Int, name: String, layer: String, exec: Int, query: String,
                      start: Double, end: Double)

/** Everything the traced run attributes to one query execution. */
final class ExecRecord(val id: Int, val pass: Int, val query: String) {
  var start, end, buildEnd = 0.0
  var planS, taskS, gcS = 0.0
  var sqlExecutions, jobs, stages, tasks = 0
  var shuffleWrite, shuffleRead, spill, bytesIn, bytesOut = 0L
  var filesRead, filesWritten = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val batchMs = mutable.ArrayBuffer.empty[Double]
  var stateCommitMs, walCommitMs = 0.0
  val stateRows = mutable.Map.empty[java.util.UUID, Long]
  val refinedPlans = mutable.ArrayBuffer.empty[QueryExecution]

  def wall: Double = (end - start) / 1000
  def buildS: Double = (buildEnd - start) / 1000
  def actionS: Double = (end - buildEnd) / 1000

  /** Seconds of the execution during which no Spark job ran. */
  def driverSelfS: Double = wall - Tracer.covered(start, end, jobIntervals.toSeq) / 1000
}

/** Spans and per-layer counters for the traced passes of one run. The
  * listeners attribute every event to the execution that was running: a
  * job carries the execution id as a local property set before each call
  * (threads the call starts inherit it), and the closed loop runs one
  * execution at a time, so events without the property belong to the
  * current one. */
final class Tracer(t0Millis: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val execs = mutable.ArrayBuffer.empty[ExecRecord]
  private val byId = mutable.Map.empty[Int, ExecRecord]
  private val stageExec = mutable.Map.empty[Int, ExecRecord]
  private val jobStart = mutable.Map.empty[Int, (ExecRecord, Double)]
  @volatile private var current: Option[ExecRecord] = None
  private var nextSpan = 0

  /** Planning seconds seen outside any traced execution (the set-up). */
  var setupPlanS = 0.0

  private def wallMs(epochMs: Long): Double = (epochMs - t0Millis).toDouble

  def span(parent: Int, name: String, layer: String, exec: Int, query: String, start: Double, end: Double): Int =
    synchronized {
      nextSpan += 1
      spans += Span(nextSpan, parent, name, layer, exec, query, start, end)
      nextSpan
    }

  private def owner(props: java.util.Properties): Option[ExecRecord] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.ExecProperty))).flatMap(s => byId.get(s.toInt))
      .orElse(current)

  def begin(e: ExecRecord): Unit = synchronized {
    execs += e; byId(e.id) = e; current = Some(e)
  }
  def finish(): Unit = synchronized { current = None }

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      owner(j.properties).foreach { e =>
        e.jobs += 1
        j.stageInfos.foreach(s => stageExec.getOrElseUpdate(s.stageId, e))
        jobStart(j.jobId) = (e, wallMs(j.time))
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(j.jobId).foreach { case (e, start) =>
        val end = wallMs(j.time)
        e.jobIntervals += ((start, end))
        span(0, s"job ${j.jobId}", "spark.job", e.id, e.query, start, end)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = s.stageInfo
      stageExec.get(info.stageId).foreach { e =>
        e.stages += 1
        e.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          e.taskS += m.executorRunTime / 1000.0
          e.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          e.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          e.spill += m.diskBytesSpilled
          e.bytesIn += m.inputMetrics.bytesRead
          e.bytesOut += m.outputMetrics.bytesWritten
        }
        for (a <- info.submissionTime; b <- info.completionTime)
          span(0, s"stage ${info.stageId}", "spark.stage", e.id, e.query, wallMs(a), wallMs(b))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases.values
      val s = phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0
      current match {
        case None => setupPlanS += s
        case Some(e) =>
          e.planS += s
          e.sqlExecutions += 1
          phases.foreach(p => span(0, "planning", "graft.plans", e.id, e.query, wallMs(p.startTimeMs), wallMs(p.endTimeMs)))
          e.filesRead += Internals.filesRead(qe)
          e.filesWritten += Internals.filesWritten(qe)
          if (Internals.hasRefinedJoin(qe)) e.refinedPlans += qe
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = Tracer.this.synchronized {
      current.foreach { e =>
        val p = event.progress
        val d = p.durationMs.asScala
        val total = d.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
        e.batchMs += total
        e.walCommitMs += d.get("walCommit").map(_.toDouble).getOrElse(0.0) +
          d.get("commitOffsets").map(_.toDouble).getOrElse(0.0)
        e.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        e.stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        val start = wallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        span(0, s"batch ${p.batchId}", "graft.streaming", e.id, e.query, start, start + total)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    Internals.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val ExecProperty = "perfbench.exec"

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMillis: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  /** Length of the part of [start, end] that the intervals cover. */
  def covered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = start
    for ((a, b) <- intervals.map { case (a, b) => (a.max(start), b.min(end)) }.filter(i => i._2 > i._1).sortBy(_._1)) {
      val from = a.max(reach)
      if (b > from) { total += b - from; reach = b }
    }
    total
  }

  /** Nest every span under the smallest span of the same execution that
    * contains it, then give each its self time: its duration minus the
    * part its children cover. */
  def nest(spans: Seq[Span]): Seq[(Span, Double)] = {
    val rank = Map("graft.queries" -> 0, "query.build" -> 1, "query.action" -> 1, "spark.job" -> 2,
      "graft.plans" -> 2, "graft.streaming" -> 2, "spark.stage" -> 3)
    val nested = spans.groupBy(_.exec).values.flatMap { group =>
      group.map { s =>
        if (s.parent != 0) s
        else {
          val r = rank.getOrElse(s.layer, 4)
          val enclosing = group.filter(p => p.id != s.id && rank.getOrElse(p.layer, 4) < r &&
            p.start <= s.start && s.start <= p.end)
          s.copy(parent = if (enclosing.isEmpty) 0
            else enclosing.maxBy(p => (rank.getOrElse(p.layer, 4), p.start - p.end)).id)
        }
      }
    }.toSeq.sortBy(_.id)
    val children = nested.groupBy(_.parent)
    nested.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      (s, (s.end - s.start) - covered(s.start, s.end, kids))
    }
  }
}
