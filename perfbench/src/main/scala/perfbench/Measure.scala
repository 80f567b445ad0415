package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** One call of a workload's entry function, as the closed loop saw it.
  * `error` is set when the call threw or its output check failed; a
  * failed call is recorded, never rethrown, so one bad call cannot abort
  * a run.
  */
final case class CallRecord(
    label: String,
    phase: String,
    wallS: Double,
    cpuS: Double,
    liveHeapMb: Double,
    gcS: Double,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Closed-loop runner: one client, one call at a time. Times each call
  * from call to return (wall, process CPU, live-heap peak, GC time),
  * then runs the call's output check outside the timed window.
  */
object Measure {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private val livePeak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  // After every collection, the heap still in use is live data (plus
  // garbage the collection chose to leave); its maximum over a call is
  // the call's live-heap peak. Peaks that include uncollected garbage
  // depend on when collections happen to run and are far noisier.
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, usage) if heapPools(pool) => usage.getUsed }.sum
          livePeak.accumulateAndGet(after, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  /** Max heap in use after a collection since the last reset, in MB;
    * 0 when no collection ran.
    */
  def liveHeapPeakMb: Double = livePeak.get / 1048576.0

  def resetLiveHeapPeak(): Unit = livePeak.set(0L)

  /** Heap still in use after full collections, in MB: what the program
    * keeps between calls (session state, caches, anything leaked). Spark
    * frees the blocks of collected RDDs and broadcasts from a cleaner
    * thread that a collection wakes, so collect until the reading settles.
    */
  def retainedHeapMb(): Double = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = collect()
    Thread.sleep(500)
    var now = collect()
    var rounds = 1
    while (rounds < 10 && math.abs(now - prev) > (1L << 20)) {
      prev = now
      Thread.sleep(500)
      now = collect()
      rounds += 1
    }
    now / 1048576.0
  }

  /** Time `call`, then `check` its output. Either may throw; the
    * failure lands in the record's `error`.
    */
  def once(label: String, phase: String)(call: => Unit)(check: => Option[String]): CallRecord = {
    resetLiveHeapPeak()
    val gc0 = gcS
    val cpu0 = processCpuS
    val t0 = System.nanoTime()
    val thrown =
      try { call; None }
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Some(describe(e)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS - cpu0
    val gc = gcS - gc0
    val heap = liveHeapPeakMb
    val error = thrown.orElse {
      try check.map(m => s"check failed: $m")
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Some(s"check threw: ${describe(e)}") }
    }
    error.foreach(m => System.err.println(s"[perfbench] $label ($phase) failed: $m"))
    CallRecord(label, phase, wall, cpu, heap, gc, error)
  }

  /** Call `next` in a closed loop until `seconds` have passed and it
    * was called at least `minIters` times.
    */
  def loop[T](seconds: Double, minIters: Int)(next: Int => T): Seq[T] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[T]
    var i = 0
    while (i < minIters || System.nanoTime() < deadline) {
      out += next(i)
      i += 1
    }
    out.result()
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
}
