package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans for the traced run. A span is (name, start, end,
  * parent, run id, counters); spans nest on the driver thread, and
  * Spark job/stage spans are attached to the span that submitted them
  * through a thread-local job property. Nothing is recorded when
  * tracing is off, so the untraced runs pay only a flag test. */
final class Tracer(val enabled: Boolean, val runId: String) {
  final case class Span(id: Long, parent: Long, name: String,
                        startMs: Double, endMs: Double,
                        counters: collection.Map[String, Double])

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  @volatile var current: Long = 0L
  @volatile var spark: SparkSession = _

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * base as Spark's event times. */
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def newId(): Long = ids.incrementAndGet()

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val parent = current
    current = id
    setJobSpan(id)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      current = parent
      setJobSpan(parent)
      spans.add(Span(id, parent, name, t0, t1, Map.empty))
    }
  }

  def record(id: Long, parent: Long, name: String, startMs: Double,
             endMs: Double, counters: collection.Map[String, Double]): Unit =
    if (enabled) spans.add(Span(id, parent, name, startMs, endMs, counters))

  private def setJobSpan(id: Long): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty(Tracer.SpanProp, id.toString)

  def writeJsonl(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.render(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "counters" -> s.counters))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark execution layer, read from the scheduler's listener bus:
  * counts of jobs, stages and tasks, task busy/CPU/GC time, the wait
  * from stage submission to task launch, bytes read, shuffled and
  * spilled, and each job's interval (for the driver-only share of a
  * query's wall time). Emits job and stage spans. */
final class SparkLayers(tr: Tracer) extends SparkListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobs = mutable.Map.empty[Int, (Double, Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Double]
  /** (start ms, end ms) of every finished job. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  private val events = new AtomicLong(0L)

  private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet()
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = (e.time.toDouble, parent, tr.newId())
    e.stageIds.foreach(stageJob(_) = e.jobId)
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet()
    jobs.remove(e.jobId).foreach { case (start, parent, id) =>
      jobIntervals += ((start, e.time.toDouble))
      tr.record(id, parent, "spark.job", start, e.time.toDouble,
        Map("job_id" -> e.jobId.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events.incrementAndGet()
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events.incrementAndGet()
    val i = e.stageInfo
    add("spark.stages", 1)
    val start = stageSubmit.getOrElse((i.stageId, i.attemptNumber()),
      i.submissionTime.map(_.toDouble).getOrElse(0.0))
    val end = i.completionTime.map(_.toDouble).getOrElse(start)
    val parent = stageJob.get(i.stageId).flatMap(jobs.get).map(_._3).getOrElse(0L)
    tr.record(tr.newId(), parent, "spark.stage", start, end,
      Map("stage_id" -> i.stageId.toDouble, "tasks" -> i.numTasks.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    val info = e.taskInfo
    add("spark.tasks", 1)
    add("spark.task_busy_s", info.duration / 1e3)
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      add("spark.task_wait_s", math.max(0.0, info.launchTime - sub) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
    }
  }

  /** Waits for the asynchronous listener bus to go quiet. */
  def settle(): Unit = {
    var prev = -1L
    var i = 0
    while (events.get() != prev && i < 60) {
      prev = events.get()
      Thread.sleep(40)
      i += 1
    }
  }

  def snapshot(): Map[String, Double] = synchronized(sums.toMap)

  /** Milliseconds within [a, b] during which any job was running
    * (overlapping jobs counted once). */
  def jobBusyMs(a: Double, b: Double): Double = synchronized {
    val iv = jobIntervals.collect {
      case (s, e) if e > a && s < b => (math.max(s, a), math.min(e, b))
    }.sortBy(_._1)
    var busy = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) busy += curE - curS
    busy
  }
}

/** Catalyst's own phase timings (analysis, optimization, planning) of
  * every batch action, summed. */
final class PlanningLayer extends QueryExecutionListener {
  @volatile private var ms = 0.0
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe)
  private def add(qe: QueryExecution): Unit = synchronized {
    ms += qe.tracker.phases.values.map(_.durationMs).sum
  }
  def totalS: Double = synchronized(ms / 1e3)
}
