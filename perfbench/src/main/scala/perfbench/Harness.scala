package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SessionBuilder
import graft.pipeline.Cc2Dataset

/** One benchmark run of one workload, in one JVM. Closed loop: a single
  * client makes one entry call at a time on the CLI's local session.
  *
  * Order: set-up repeated `SetupReps` times (fresh session, seeded
  * inputs from the cache or generated, one warm-up call), more warm-up
  * passes, then the timed window, then a full collection to read the
  * heap the program retains. With `--trace 1` the window is split:
  * its first half runs untraced, its second half runs traced passes
  * (listener on, layer calls wrapped in spans), so tracing overhead is
  * the difference of the two. Raw samples, spans and the stamp go to
  * `--out` as JSON; run.py turns them into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  */
object Harness {
  val SetupReps = 3

  private val LocalMaster = """local\[(\*|\d+)(?:,\d+)?\]""".r

  /** Cores of the resolved master, not of any environment setting. */
  def coresOf(spark: SparkSession): Int = spark.sparkContext.master match {
    case LocalMaster("*") => Runtime.getRuntime.availableProcessors()
    case LocalMaster(n) => n.toInt
    case "local" => 1
    case _ => spark.sparkContext.defaultParallelism
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val threads = Runtime.getRuntime.availableProcessors()
    val wl = Workload(opt("workload"), work, seed, threads)

    val calls = Seq.newBuilder[CallRecord]
    var k = 0
    def callOnce(spark: SparkSession, label: String, phase: String,
        wrap: (=> Unit) => Unit = body => body): CallRecord = {
      val rec = Measure.once(label, phase)(wrap(wl.call(spark, label, k)))(wl.check(spark, label, k))
      wl.cleanup(spark, k)
      k += 1
      calls += rec
      rec
    }
    def pass(spark: SparkSession, phase: String): Seq[CallRecord] =
      wl.labels.map(callOnce(spark, _, phase))

    // JVM uptime at the end of each phase, to show where a run's time goes
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phaseEnd(name: String): Unit =
      phases(name) = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    var spark: SparkSession = null
    val setupS = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      spark = Cc2Dataset.restartSession(() => SessionBuilder.local(appName = "perfbench"))
      spark.sparkContext.setLogLevel("WARN")
      wl.prepare(spark)
      val ready = (System.nanoTime() - t0) / 1e9
      ready + callOnce(spark, wl.labels.head, "setup").wallS
    }
    phaseEnd("setup")
    // outputs checked by run.py against their DuckDB oracles
    val oracle: Map[String, Any] = wl match {
      case it: Iterative =>
        val dir = new File(work, "oracle")
        it.dumpForOracle(spark, dir)
        Map("dir" -> dir.getAbsolutePath, "tables" -> Map("documents" -> it.docsPath))
      case _ => Map.empty
    }
    phaseEnd("oracle_dump")
    (0 until wl.warmupPasses).foreach(_ => pass(spark, "warmup"))
    phaseEnd("warmup")

    val labels = wl.labels
    val untraced = if (trace) seconds / 2 else seconds
    Measure.loop(untraced, minIters = labels.size)(i => callOnce(spark, labels(i % labels.size), "timed"))
    phaseEnd("timed")
    val retainedHeapMb = Measure.retainedHeapMb()
    phaseEnd("retained_heap")

    val tracer = new Tracer
    val layers = Seq.newBuilder[Map[String, Double]]
    if (trace) {
      val listener = new SparkSpans(tracer)
      spark.sparkContext.addSparkListener(listener)
      val ctx = new TraceCtx(spark, tracer, listener)
      // prefix differences are noisy: take at least two passes' median
      Measure.loop(seconds - untraced, minIters = 2) { i =>
        tracer.span("pass", 0, Map("pass" -> i)) { root =>
          wl.labels.foreach(l => callOnce(spark, l, "traced", body => ctx.layer(s"entry.$l", root)(body)))
          // the layer calls call into the program too: a failure counts, never aborts
          calls += Measure.once("layers", "traced")(layers += wl.layers(spark, ctx, root, k))(None)
        }
      }
      spark.sparkContext.removeSparkListener(listener)
      phaseEnd("traced")
    }

    val stamp = Map(
      "workload" -> opt("workload"),
      "seed" -> seed,
      "master" -> spark.sparkContext.master,
      "cores" -> coresOf(spark),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.runtime.version"),
      "setup_reps" -> SetupReps,
      "records_per_pass" -> wl.recordsPerPass) ++ wl.stamp
    spark.stop()
    phaseEnd("stop")

    val result = Map(
      "stamp" -> (stamp + ("phase_end_s" -> phases.toSeq)),
      "labels" -> wl.labels,
      "setup_s" -> setupS,
      "retained_heap_mb" -> retainedHeapMb,
      "calls" -> calls.result().map(c => Map(
        "label" -> c.label, "phase" -> c.phase, "wall_s" -> c.wallS, "cpu_s" -> c.cpuS,
        "live_heap_mb" -> c.liveHeapMb, "gc_s" -> c.gcS, "error" -> c.error.orNull)),
      "layers" -> layers.result(),
      "spans" -> tracer.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)),
      "oracle" -> oracle)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opt("out")), result)
    sys.exit(0)
  }
}
