package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as Spark's listener event times and Catalyst phase times. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded around the layer calls the benchmark makes: a query's
  * builder call and its action, and each `GraftTable` call. Before each call
  * the span id is set as a SparkContext local property, so job, stage and
  * task events carry the span that caused them. Listeners are attached only
  * while `enabled`, so untraced phases pay nothing but a flag check.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue() = 0L }
  @volatile private var on = false

  val spans = new ConcurrentHashMap[Long, Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val phases = ArrayBuffer.empty[Phase]
  val batches = ArrayBuffer.empty[Map[String, Double]]

  def enabled: Boolean = on

  /** Runs `body` as a span named `name` in `layer`, child of the calling
    * thread's current span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current.get()
      val s = Span(id, parent.longValue, name, layer, Clock.nowMs)
      spans.put(id, s)
      current.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.endMs = Clock.nowMs
        current.set(parent)
        sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
      }
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, Job(e.jobId, span, e.time.toDouble))
      e.stageIds.foreach(stageToJob.put(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobOf(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- jobOf(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.taskRunMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private def jobOf(stageId: Int): Option[Job] =
    Option(stageToJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      for ((name, p) <- qe.tracker.phases if CatalystPhases(name))
        phases += Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.synchronized {
        batches += e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap +
          ("at" -> java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble)
      }
  }

  private var gcAtStart = (0L, 0L)

  def start(): Unit = if (!on) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    gcAtStart = gcTotals()
    on = true
  }

  /** Detaches the listeners once every event already posted is delivered. */
  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val (c, t) = gcTotals()
    gcCount += c - gcAtStart._1
    gcMs += t - gcAtStart._2
  }

  var gcCount = 0L
  var gcMs = 0L

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.values.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start" -> s.startMs, "end" -> s.endMs)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "span" -> j.span, "start" -> j.startMs, "end" -> j.endMs,
      "stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.taskRunMs,
      "input_bytes" -> j.inputBytes, "shuffle_read_bytes" -> j.shuffleReadBytes,
      "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes)),
    "phases" -> phases.toSeq.map(p => Map("name" -> p.name, "start" -> p.startMs, "end" -> p.endMs)),
    "batches" -> batches.toSeq,
    "gc_count" -> gcCount, "gc_ms" -> gcMs)
}

object Trace {
  val SpanKey = "perfbench.span"
  val CatalystPhases = Set("analysis", "optimization", "planning")

  final case class Span(id: Long, parent: Long, name: String, layer: String, startMs: Double) {
    @volatile var endMs: Double = Double.NaN
  }
  final case class Job(id: Int, span: Long, startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    var stages = 0L; var tasks = 0L; var taskRunMs = 0L; var inputBytes = 0L
    var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  }
  final case class Phase(name: String, startMs: Double, endMs: Double)

  def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)
  }
}
