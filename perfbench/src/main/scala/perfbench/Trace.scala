package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** A timed interval: `parent` is 0 for a root span. Times are epoch
  * milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: Int, parent: Int, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
  def newId(): Int = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized { spans.toList }

  /** Run `body` inside a span; `body` gets the span's id for children. */
  def span[T](name: String, parent: Int, attrs: Map[String, Any] = Map.empty)(body: Int => T): T = {
    val id = newId()
    val t0 = nowMs
    try body(id)
    finally add(Span(id, parent, name, t0, nowMs, attrs))
  }
}

/** Records Spark jobs, stages and tasks as spans. A job is parented to
  * the benchmark span that owns its job group (see [[own]]); stages to
  * their job, tasks to their stage.
  */
final class SparkSpans(tracer: Tracer) extends SparkListener {
  private val groupOwner = new ConcurrentHashMap[String, Integer]()
  private val jobSpan = new ConcurrentHashMap[Integer, Integer]()
  private val jobStart = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val jobParent = new ConcurrentHashMap[Integer, Integer]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()

  /** Jobs submitted under `group` become children of span `spanId`. */
  def own(group: String, spanId: Int): Unit = groupOwner.put(group, spanId)

  private def spanOfStage(stageId: Int): Int =
    stageSpan.computeIfAbsent(stageId, _ => Integer.valueOf(tracer.newId()))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobSpan.put(e.jobId, tracer.newId())
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(g => Option(groupOwner.get(g))).foreach(o => jobParent.put(e.jobId, o))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val id = Option(jobSpan.get(e.jobId)).map(_.intValue).getOrElse(tracer.newId())
    val start = Option(jobStart.get(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
    val parent = Option(jobParent.get(e.jobId)).map(_.intValue).getOrElse(0)
    tracer.add(Span(id, parent, "spark.job", start, e.time.toDouble,
      Map("job_id" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val parent = Option(stageJob.get(info.stageId))
      .flatMap(j => Option(jobSpan.get(j))).map(_.intValue).getOrElse(0)
    val end = info.completionTime.getOrElse(tracer.nowMs.toLong).toDouble
    tracer.add(Span(spanOfStage(info.stageId), parent, "spark.stage",
      info.submissionTime.map(_.toDouble).getOrElse(end), end,
      Map("stage_id" -> info.stageId, "tasks" -> info.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    tracer.add(Span(tracer.newId(), spanOfStage(e.stageId), "spark.task",
      info.launchTime.toDouble, info.finishTime.toDouble,
      Map(
        "run_ms" -> m.map(_.executorRunTime).getOrElse(0L),
        "shuffle_write_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "spill_bytes" -> m.map(_.diskBytesSpilled).getOrElse(0L))))
  }
}
