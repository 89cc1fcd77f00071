package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Driver spans (run, pass, query, build, plan, exec,
  * release, probes) are opened and closed by the benchmark itself; job,
  * stream and batch spans are filled in from Spark's listener events.
  * Times are epoch microseconds. */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val start: Long) {
  @volatile var end: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(key: String, v: Double): Unit =
    attrs.update(key, attrs.getOrElse(key, 0.0) + v)
  def durMs: Double = (end - start) / 1000.0
}

/** In-memory span store. The driver thread opens spans; the listener bus
  * threads append job/stream spans. Everything is written out once, at
  * the end of the run. */
final class Tracer(sc: => SparkContext, traced: Boolean) {
  private val nanos0 = System.nanoTime()
  private val micros0 = System.currentTimeMillis() * 1000L
  private val ids = new AtomicInteger(0)
  private val all = mutable.ArrayBuffer[Span]()

  /** Span the driver thread is inside; parent of anything opened now. */
  @volatile var current: Int = 0

  def nowMicros: Long = micros0 + (System.nanoTime() - nanos0) / 1000L

  def spans: Seq[Span] = all.synchronized(all.toList)

  def add(parent: Int, kind: String, name: String, start: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, start)
    all.synchronized(all += s)
    s
  }

  def open(kind: String, name: String): Span = {
    val s = add(current, kind, name, nowMicros)
    enter(s.id)
    s
  }

  def close(s: Span): Span = {
    s.end = nowMicros
    enter(s.parent)
    s
  }

  def timed[A](kind: String, name: String)(body: => A): (A, Span) = {
    val s = open(kind, name)
    try (body, s) finally close(s)
  }

  // jobs carry the local properties of the thread that submitted them, so
  // this tags each job with the phase it started in; a streaming query's
  // execution thread inherits the tag of the build phase that started it
  private def enter(id: Int): Unit = {
    current = id
    val c = sc
    if (traced && c != null) c.setLocalProperty(Tracer.SpanKey, id.toString)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark jobs as children of the phase they started in, with the task
  * metrics of every stage they ran summed onto them. */
final class JobTrace(tr: Tracer) extends SparkListener {
  private val jobs = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Span]()
  @volatile private var sentinelSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // untagged jobs (none are expected) stay unattributed under span 0
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(0)
    val s = tr.add(parent, "job", e.jobId.toString, e.time * 1000L)
    jobs(e.jobId) = s
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach { s =>
      if (e.stageInfo.numTasks > 0) s.add("stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { s =>
      s.add("tasks", 1)
      if (e.reason != Success) s.add("task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("executor_run_ms", m.executorRunTime.toDouble)
        s.add("executor_cpu_ms", m.executorCpuTime / 1e6)
        s.add("deserialize_ms", m.executorDeserializeTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", m.diskBytesSpilled.toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        if (m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) s.add("empty_tasks", 1)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { s =>
      s.end = e.time * 1000L
      if (s.parent == JobTrace.Sentinel) sentinelSeen = true
    }

  def drained: Boolean = sentinelSeen
}

object JobTrace {
  /** Span tag of the job that flushes the listener queue at the end. */
  val Sentinel = -1
}

/** Bounded streaming runs (`Trigger.AvailableNow`) as children of the
  * build phase that started them, with one span per micro-batch. */
final class StreamTrace(tr: Tracer) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val runs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Span]()

  // delivered before DataStreamWriter.start() returns, so `current` is
  // still the build phase that started the query
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    runs.put(e.runId, tr.add(tr.current, "stream",
      Option(e.name).getOrElse(""), tr.nowMicros))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val run = runs.get(p.runId)
    if (run != null) {
      val d = p.durationMs
      def dur(k: String): Double =
        if (d.containsKey(k)) d.get(k).doubleValue else 0.0
      val start = java.time.Instant.parse(p.timestamp)
      val b = tr.add(run.id, "batch", p.batchId.toString,
        start.getEpochSecond * 1000000L + start.getNano / 1000L)
      b.end = b.start + (dur("triggerExecution") * 1000).toLong
      b.add("input_rows", p.numInputRows.toDouble)
      b.add("trigger_ms", dur("triggerExecution"))
      b.add("add_batch_ms", dur("addBatch"))
      b.add("query_planning_ms", dur("queryPlanning"))
      b.add("wal_commit_ms", dur("walCommit"))
      p.stateOperators.foreach { op =>
        b.add("state_commit_ms", op.commitTimeMs.toDouble)
        b.add("state_rows", op.numRowsTotal.toDouble)
        b.add("state_memory_bytes", op.memoryUsedBytes.toDouble)
        b.add("rows_dropped_by_watermark", op.numRowsDroppedByWatermark.toDouble)
      }
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val run = runs.get(e.runId)
    if (run != null) run.end = tr.nowMicros
  }

  def drained: Boolean = runs.values.stream.allMatch(_.end >= 0)
}
