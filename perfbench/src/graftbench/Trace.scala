package graftbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch microseconds with nanoTime resolution, so benchmark spans line up
  * with the epoch-millisecond times Spark puts on its listener events. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def us(nanoTime: Long): Long = baseUs + nanoTime / 1000L
  def nowUs(): Long = us(System.nanoTime())
}

final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written out once when the run ends. With
  * `enabled = false` every call is a no-op, so untraced runs pay nothing
  * beyond the id counter. */
final class Tracer(val enabled: Boolean, val traceId: Long) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Times `body` as a span from nanoTime stamps and returns its result;
    * the span is recorded even when `body` throws. */
  def span[A](id: Long, parent: Long, name: String, layer: String,
      attrs: Map[String, Any] = Map.empty)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally add(Span(id, parent, name, layer, Clock.us(t0), Clock.nowUs(), attrs))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def clear(): Unit = spans.clear()

  def write(file: File): Unit = {
    val w = new BufferedWriter(new FileWriter(file))
    try all.sortBy(_.startUs).foreach { s =>
      w.write(Json.render(Map(
        "trace" -> traceId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "attrs" -> s.attrs)))
      w.write('\n')
    } finally w.close()
  }
}

object SparkTrace {
  /** Local property carrying the id of the benchmark span that started a job. */
  val SpanKey = "graftbench.span"
  private val StreamQueryKey = "sql.streaming.queryId"
  private val StreamBatchKey = "streaming.sql.batchId"

  private final case class Job(id: Int, startMs: Long, span: Long, stream: Option[(String, Long)],
      stages: Seq[Int])
  private final case class Stage(id: Int, attempt: Int, submitMs: Long, endMs: Long, tasks: Int)
  private final case class Task(stage: Int, launchMs: Long, endMs: Long, cpuNs: Long, runMs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, ok: Boolean)
}

/** Collects Spark jobs, stages and tasks through the public listener API
  * and turns them into spans once the run is over. A job hangs under the
  * benchmark span named by its [[SparkTrace.SpanKey]] property, or under
  * the streaming trigger named by its query and batch ids; a job with
  * neither gets parent 0 and is placed by time when the spans are read. */
final class SparkTrace(tracer: Tracer) extends SparkListener {
  import SparkTrace._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val stream = for (q <- prop(StreamQueryKey); b <- prop(StreamBatchKey)) yield (q, b.toLong)
    jobs.add(Job(e.jobId, e.time, prop(SpanKey).map(_.toLong).getOrElse(0L), stream, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    jobEnds.put(e.jobId, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null) tasks.add(Task(e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0,
      info.successful))
    else tasks.add(Task(e.stageId, info.launchTime, info.finishTime, m.executorCpuTime,
      m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      info.successful))
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so the spans cover the whole run. */
  def settle(maxMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def done = jobs.asScala.forall(j => jobEnds.containsKey(j.id)) &&
      System.nanoTime() - lastEventNs.get() > 300L * 1000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Emits job, stage and task spans. `triggerSpan` maps a streaming
    * (query id, batch id) to the id of its trigger span. */
  def emit(triggerSpan: ((String, Long)) => Option[Long]): Unit = {
    val stageJob = scala.collection.mutable.Map[Int, Long]()
    jobs.asScala.foreach { j =>
      val id = tracer.newId()
      val parent = if (j.span != 0) j.span else j.stream.flatMap(triggerSpan).getOrElse(0L)
      val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)
      tracer.add(Span(id, parent, s"job ${j.id}", "scheduler", j.startMs * 1000, end * 1000,
        Map("job" -> j.id, "stream" -> j.stream.isDefined)))
      j.stages.foreach(s => stageJob(s) = id)
    }
    val stageSpan = scala.collection.mutable.Map[Int, Long]()
    stages.asScala.foreach { s =>
      val id = tracer.newId()
      stageSpan(s.id) = id
      tracer.add(Span(id, stageJob.getOrElse(s.id, 0L), s"stage ${s.id}", "scheduler",
        s.submitMs * 1000, s.endMs * 1000, Map("stage" -> s.id, "attempt" -> s.attempt,
          "tasks" -> s.tasks)))
    }
    tasks.asScala.foreach { t =>
      tracer.add(Span(tracer.newId(), stageSpan.getOrElse(t.stage, 0L), "task", "executor",
        t.launchMs * 1000, t.endMs * 1000, Map("stage" -> t.stage, "cpu_ns" -> t.cpuNs,
          "run_ms" -> t.runMs, "gc_ms" -> t.gcMs, "shuffle_write" -> t.shuffleWrite,
          "shuffle_read" -> t.shuffleRead, "spill" -> t.spill, "ok" -> t.ok)))
    }
  }
}

object StreamTrace {
  private final case class Trigger(span: Long, parent: Long, query: String, batch: Long,
      startMs: Long, durations: Map[String, Long], rows: Long)
}

/** Streaming progress events as micro-batch trigger spans. */
final class StreamTrace(tracer: Tracer, parent: => Long) extends StreamingQueryListener {
  import StreamTrace._

  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {}
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {}
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    triggers.add(Trigger(tracer.newId(), parent, p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
  }

  def spanFor(key: (String, Long)): Option[Long] =
    triggers.asScala.find(t => t.query == key._1 && t.batch == key._2).map(_.span)

  def emit(): Unit = triggers.asScala.foreach { t =>
    val total = t.durations.getOrElse("triggerExecution", 0L)
    tracer.add(Span(t.span, t.parent, s"trigger ${t.batch}", "streaming", t.startMs * 1000,
      (t.startMs + total) * 1000, Map("batch" -> t.batch, "rows" -> t.rows) ++
        t.durations.map { case (k, v) => s"ms.$k" -> v }))
  }
}
