package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds, monotonic within the run, so spans,
  * generator timestamps and checkpoint file mtimes share one time base.
  */
object Clock {
  private val baseEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val baseNano = System.nanoTime()
  def epochNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** Spans around the benchmark's calls into each engine layer. Every span
  * carries the unit (query or pipeline) it belongs to; spans are kept in
  * memory and written out when the run ends. Recording is off unless the
  * run is traced.
  */
object Trace {
  final case class Span(id: Long, parent: Long, unit: String, layer: String,
      name: String, startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Id of the innermost open span on this thread (0 when none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `body` inside a span. `parent` defaults to the innermost span of
    * the calling thread; callbacks running on engine threads pass the id
    * of the span that caused them.
    */
  def span[T](unit: String, layer: String, name: String, parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = Clock.epochNs()
      try body
      finally {
        recorded.add(Span(id, p, unit, layer, name, t0, Clock.epochNs()))
        stack.set(stack.get.tail)
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.startNs)
}

/** Streaming progress of every query, kept as the engine's own JSON. Always
  * installed: micro-batch durations and input rows are end-to-end figures.
  */
final class ProgressCollector extends StreamingQueryListener {
  private val byQuery = mutable.Map.empty[String, mutable.ArrayBuffer[String]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byQuery.synchronized {
      byQuery.getOrElseUpdate(e.progress.runId.toString, mutable.ArrayBuffer.empty) +=
        e.progress.json
      ()
    }

  /** Progress JSON of one run of a query, in batch order. */
  def of(runId: java.util.UUID): Seq[String] =
    byQuery.synchronized(byQuery.get(runId.toString).map(_.toSeq).getOrElse(Nil))
}

/** Duration of every Spark job, by completion time (epoch ms). Always
  * installed: on the batch workload a job is the unit the engine commits.
  */
final class JobTimes extends SparkListener {
  private val starts = mutable.Map.empty[Int, Long]
  private val done = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { starts(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => done += ((e.time, e.time - s)))
  }

  /** Durations (ms) of the jobs that ended within [fromMs, toMs]. */
  def between(fromMs: Long, toMs: Long): Seq[Long] =
    synchronized(done.collect { case (end, d) if end >= fromMs && end <= toMs => d }.toSeq)
}

/** Spark execution counters per unit, for traced runs. A unit is named by
  * the `perfbench.unit` local property of the thread that submits its jobs
  * (stream threads inherit it from the thread that starts the query).
  */
final class ExecRecorder extends SparkListener with QueryExecutionListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var scanBytes = 0L
    var planMs = 0L
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val units = mutable.Map.empty[String, Counters]
  private val stageUnit = mutable.Map.empty[Int, String]
  /** Planning phases are reported after the fact; they are attributed by
    * time to the unit whose interval holds their start.
    */
  private val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]

  private def counters(u: String): Counters = units.getOrElseUpdate(u, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val u = Option(e.properties).flatMap(p => Option(p.getProperty(ExecRecorder.UnitKey)))
      .getOrElse("other")
    counters(u).jobs += 1
    e.stageIds.foreach(s => stageUnit(s) = u)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val c = counters(stageUnit.getOrElse(si.stageId, "other"))
    c.stages += 1
    for (a <- si.submissionTime; b <- si.completionTime) c.stageIntervals += ((a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageUnit.getOrElse(e.stageId, "other"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      c.scanBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        planPhases += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters of every unit; `unitIntervals` (epoch ms) attributes planning. */
  def snapshot(unitIntervals: Map[String, Seq[(Long, Long)]]): Map[String, Counters] =
    synchronized {
      planPhases.foreach { case (start, ms) =>
        val u = unitIntervals.collectFirst {
          case (name, ivs) if ivs.exists { case (a, b) => start >= a && start <= b } => name
        }.getOrElse("other")
        counters(u).planMs += ms
      }
      planPhases.clear()
      units.toMap
    }
}

object ExecRecorder {
  val UnitKey = "perfbench.unit"

  def install(spark: SparkSession): ExecRecorder = {
    val r = new ExecRecorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}
