package dmarcbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one run share `run`; `parent`
  * is the span that was open on the same thread when this one began.
  */
final case class Span(run: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory while the run measures and written out at the
  * end. Off, `span` only runs its body.
  */
final class Tracer(val run: String) {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** The span open on this thread (0: none), to hand to work that
    * continues on another thread.
    */
  def current: Int = open.get()

  def span[A](name: String, under: Int = -1)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = if (under >= 0) under else open.get()
      open.set(id)
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(run, id, parent, name, start, System.nanoTime()))
        open.set(if (under >= 0) 0 else parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Summed duration of every span with this name, in seconds. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  /** Summed self time per span name: each span's duration minus the part
    * of its interval that its child spans cover.
    */
  def selfSeconds: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, all.sortBy(_.startNs).map { s =>
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("", "\n", "\n"))
  }
}

/** Spark runtime counters, summed from task and job events. */
final case class SparkCounts(
    jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    schedDelayMs: Long = 0, resultBytes: Long = 0, inputBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(
    jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    schedDelayMs - o.schedDelayMs, resultBytes - o.resultBytes, inputBytes - o.inputBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
}

final class SparkCounter extends SparkListener {
  private val c = Array.fill(10)(new AtomicLong(0))
  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c(1).incrementAndGet()
    if (m != null) {
      c(2).addAndGet(m.executorCpuTime)
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.jvmGCTime)
      val overhead = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
      c(5).addAndGet(math.max(0L, e.taskInfo.duration - overhead - e.taskInfo.gettingResultTime))
      c(6).addAndGet(m.resultSize)
      c(7).addAndGet(m.inputMetrics.bytesRead)
      c(8).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(9).addAndGet(m.diskBytesSpilled)
    }
  }
  def counts: SparkCounts = SparkCounts(c(0).get, c(1).get, c(2).get, c(3).get, c(4).get,
    c(5).get, c(6).get, c(7).get, c(8).get, c(9).get)
}

/** What one finished query did, from its executed plan. */
final case class QueryStat(planMs: Double, execMs: Double, files: Long, partsRead: Long,
                           partsTotal: Long, scanRows: Long)

final class QueryRecorder extends QueryExecutionListener {
  val stats = new ConcurrentLinkedQueue[QueryStat]()
  private object Walk extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(p => p.durationMs).sum.toDouble
    val scans = Walk.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    val total = scans.map(_.relation.location match {
      case idx: PartitioningAwareFileIndex if idx.partitionSchema.nonEmpty => idx.partitionSpec().partitions.size.toLong
      case _ => 0L
    }).sum
    stats.add(QueryStat(plan, durationNs / 1e6, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numPartitions")).sum, total, scans.map(metric(_, "numOutputRows")).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[QueryStat] = {
    val b = Seq.newBuilder[QueryStat]
    var s = stats.poll()
    while (s != null) { b += s; s = stats.poll() }
    b.result()
  }
}

/** One micro-batch, from the streaming query's progress event. The file
  * source's log offsets (`fromLog`, `toLog`] name the files it read.
  */
final case class Batch(id: Long, startMs: Long, durations: Map[String, Long], files: Long,
                       stateRows: Long, stateBytes: Long, fromLog: Long, toLog: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

final class IntakeRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def logOffset(json: String): Long =
      Option(json).flatMap(IntakeRecorder.LogOffset.findFirstMatchIn(_)).map(_.group(1).toLong).getOrElse(-1L)
    val src = p.sources.headOption
    batches.add(Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum,
      src.map(s => logOffset(s.startOffset)).getOrElse(-1L), src.map(s => logOffset(s.endOffset)).getOrElse(-1L)))
  }
  /** Progress events with data; idle triggers also report progress. */
  def dataBatches: Seq[Batch] = batches.asScala.toSeq.filter(_.files > 0).sortBy(_.id)
  def committedFiles: Long = batches.asScala.iterator.map(_.files).sum
}

object IntakeRecorder {
  val LogOffset = """"logOffset"\s*:\s*(\d+)""".r
}

/** The listeners a run registers, and the tracer they share. */
final class Probes(spark: SparkSession, run: String) {
  val tracer = new Tracer(run)
  val sparkCounter = new SparkCounter
  val queries = new QueryRecorder
  spark.sparkContext.addSparkListener(sparkCounter)

  /** Spans and the query listener are on only in the traced run. */
  def setTracing(on: Boolean): Unit = {
    if (on && !tracer.on) spark.listenerManager.register(queries)
    if (!on && tracer.on) { settle(); spark.listenerManager.unregister(queries) }
    tracer.on = on
  }

  /** Wait until the listener bus has delivered every event so far, so
    * counter snapshots taken after an action include all of its tasks.
    */
  def settle(): Unit = org.apache.spark.dmarcbench.ListenerBus.drain(spark.sparkContext)
  def counts: SparkCounts = { settle(); sparkCounter.counts }
}
