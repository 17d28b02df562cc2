package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotone within the run. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def us: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory spans around the calls the benchmark makes into the program.
  * A span's parent is the span open on the same thread when it began;
  * spans opened on other threads (sink calls run on the stream thread)
  * get no parent here and are placed by time containment when the spans
  * are summarised. `group` ties together the spans of one operation: a
  * query name, or a micro-batch id. */
object Spans {
  final case class Span(id: Int, parent: Int, name: String, group: String,
                        startUs: Long, endUs: Long, thread: String)

  @volatile var enabled = false
  private val ids = new AtomicInteger
  private val done = new ConcurrentLinkedQueue[Span]
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def apply[T](name: String, group: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val start = Clock.us
      try body
      finally {
        open.set(open.get.tail)
        record(Span(id, parent, name, group, start, Clock.us, Thread.currentThread.getName))
      }
    }

  def record(s: Span): Unit = done.add(s)
  def newId(): Int = ids.incrementAndGet()
  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startUs)
}

/** Median and nearest-rank percentile. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
}

/** Streaming progress, kept in every run: the commit time of each
  * micro-batch is read from it (trigger start + trigger execution time). */
final class Progress extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Progress of the triggers that started at or after `ms`. */
  def since(ms: Long): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(startMs(_) >= ms)

  /** (batchId, start, commit) in epoch ms of every batch since `ms` that
    * read input or ran without data. */
  def batches(ms: Long): Seq[(Long, Long, Long)] = since(ms).map { p =>
    val start = startMs(p)
    (p.batchId, start, start + p.durationMs.getOrDefault("triggerExecution", 0L).longValue)
  }.distinct
}

/** Spark's plan and exec phases, from listeners the benchmark registers
  * for the traced pass; they record only while `on`. Register before
  * `Topology.start`: a streaming query runs its batches in a clone of the
  * session, which copies the session's query execution listeners. */
final class Layers extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // start, end (epoch ms)
  private val jobStart = mutable.Map.empty[Int, Long]
  var stages, tasks = 0L
  var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  val phaseMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) lock.synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += (s -> e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) lock.synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) lock.synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) lock.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phaseMs.contains(phase)) phaseMs(phase) += s.durationMs
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Milliseconds of [startMs, endMs) intervals not covered by any job. */
  def outsideJobsMs(windows: Seq[(Long, Long)]): Long = lock.synchronized {
    val merged = jobs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    windows.map { case (ws, we) =>
      val covered = merged.map { case (s, e) => math.max(0L, math.min(e, we) - math.max(s, ws)) }.sum
      (we - ws) - covered
    }.sum
  }

  def metrics(wallS: Double, cores: Int, windows: Seq[(Long, Long)]): Map[String, Double] =
    lock.synchronized {
      val mb = 1024.0 * 1024.0
      Map(
        "plan.analysis_ms" -> phaseMs("analysis").toDouble,
        "plan.optimization_ms" -> phaseMs("optimization").toDouble,
        "plan.planning_ms" -> phaseMs("planning").toDouble,
        "driver.outside_jobs_s" -> outsideJobsMs(windows) / 1000.0,
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> stages.toDouble,
        "exec.tasks" -> tasks.toDouble,
        "exec.task_cpu_s" -> cpuNs / 1e9,
        "exec.gc_s" -> gcMs / 1000.0,
        "exec.shuffle_read_mb" -> shuffleRead / mb,
        "exec.shuffle_write_mb" -> shuffleWrite / mb,
        "exec.spill_mb" -> spill / mb,
        "exec.cpu_util" -> (if (wallS > 0) cpuNs / 1e9 / (wallS * cores) else 0.0))
    }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    on = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Resource counts read from outside the program after each query or
  * stream: persisted RDDs, listeners on the context's bus, active streams. */
object Leaks {
  final case class Count(after: String, persisted: Int, listeners: Int, streams: Int)
  def count(spark: SparkSession, after: String): Count =
    Count(after, spark.sparkContext.getPersistentRDDs.size,
      org.apache.spark.graftbench.Bus.listeners(spark.sparkContext),
      spark.streams.active.length)
}
