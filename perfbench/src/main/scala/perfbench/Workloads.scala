package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.{Dedup, Shuffle}
import graft.pipeline.{Cc2Config, Cc2Dataset}
import graft.wat.{ProcessWat, WatExtract, WatFixture, WatReader}

/** Runs layer calls inside trace spans. Every Spark job a layer call
  * submits carries a job group owned by the layer's span, so the
  * listener can hang the job under it.
  */
final class TraceCtx(spark: SparkSession, val tracer: Tracer, listener: SparkSpans) {
  private var groups = 0

  def layer[T](name: String, parent: Int)(body: => T): T = {
    val sc = spark.sparkContext
    val result = tracer.span(name, parent) { id =>
      groups += 1
      val group = s"perfbench-$groups"
      listener.own(group, id)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }
    org.apache.spark.ListenerDrain(sc)
    result
  }
}

/** One benchmark workload: its seeded inputs, its entry-function call,
  * the check of that call's output, and its layer calls for tracing.
  */
trait Workload {
  /** Labels of the entry calls, made in this order; one pass makes each once. */
  def labels: Seq[String]
  /** Untimed calls after set-up, before the timed window. */
  def warmupPasses: Int
  /** Input records one pass consumes. */
  def recordsPerPass: Long
  /** Find or build this seed's inputs and expected outputs. */
  def prepare(spark: SparkSession): Unit
  def call(spark: SparkSession, label: String, k: Int): Unit
  /** None when call `k`'s output is right, else what is wrong. */
  def check(spark: SparkSession, label: String, k: Int): Option[String]
  /** Drop what call `k` left behind (output files, cached tables). */
  def cleanup(spark: SparkSession, k: Int): Unit
  /** One traced pass over the layers, as spans under `parent`;
    * returns the layers' counters.
    */
  def layers(spark: SparkSession, t: TraceCtx, parent: Int, k: Int): Map[String, Double]
  def stamp: Map[String, Any]
}

object Workload {
  def apply(name: String, work: File, seed: Long, threads: Int): Workload = name match {
    case "cc-crawl"  => new CcCrawl(work, seed, threads)
    case "iterative" => new Iterative(work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def inputsRoot(work: File): File = new File(work, "inputs")
  def jobsRoot(work: File): File = new File(work, "jobs")

  /** Number and bytes of the parquet part files under `dir`. */
  def parquetFiles(dir: File): (Int, Long) = {
    val parts = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    (parts.size, parts.map(_.length).sum)
  }

  def count(df: DataFrame): Long = df.queryExecution.toRdd.count()
}

import Workload._

/** The product path: `Cc2Dataset.run`, single part, image links, shuffle
  * on, over WATs drawn with replacement from a generated `wat.paths.gz`.
  */
final class CcCrawl(work: File, seed: Long, threads: Int) extends Workload {
  val Archives = 4
  val Records = 2000
  val Links = 20
  val Bloat = 10
  val Draws = 4
  val DocType = "image"

  val labels = Seq("Cc2Dataset.run")
  // the set-up calls warm up too; one more keeps the still-cooling
  // first call out of the timed window
  val warmupPasses = 1
  def recordsPerPass: Long = Draws.toLong * Records

  private var drawn: Seq[String] = Nil
  private var expected = (0L, 0L, 0L)
  private var props = Map.empty[String, String]
  private var last = ("", 0L)

  private def draw(spark: SparkSession, index: String): Seq[String] =
    Cc2Dataset.readWatIndexFiles(spark, Seq(index), None, Some(Draws), seed)

  def prepare(spark: SparkSession): Unit = {
    val key = s"s$seed-a$Archives-r$Records-l$Links-b$Bloat-d$Draws-v${WatFixture.GenVersion}"
    val dir = Inputs.cached(inputsRoot(work), "cc-crawl", key) { tmp =>
      val paths = Inputs.wats(tmp, Archives, Records, Links, Bloat, seed, threads)
      val picks = draw(spark, Inputs.writeIndex(tmp, paths))
      // the no-Spark twin over each drawn archive once gives the uid set
      val uids = Inputs.parallel(picks.distinct, threads)(p => ProcessWat(p, DocType).map(_.uid).toVector)
      val (_, n, sum) = Inputs.fingerprint(uids.iterator.flatten)
      val sizes = picks.map(p => (new File(p).length, Inputs.inflatedBytes(p)))
      Inputs.writeProps(new File(tmp, "expected.properties"), Seq(
        "draws" -> picks.map(p => new File(p).getName).mkString(","),
        "uids" -> n, "uid_hash" -> sum,
        "gz_bytes" -> sizes.map(_._1).sum, "inflated_bytes" -> sizes.map(_._2).sum))
    }
    props = Inputs.readProps(new File(dir, "expected.properties"))
    // a fresh listing per run: the cache may sit under another absolute path
    val listing = new File(work, "run"); listing.mkdirs()
    val archives = Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".warc.wat.gz")).sorted.map(n => new File(dir, n).getAbsolutePath)
    drawn = draw(spark, Inputs.writeIndex(listing, archives))
    require(drawn.map(p => new File(p).getName).mkString(",") == props("draws"),
      "archive draw differs from the one the expected output was computed for")
    expected = (props("uids").toLong, props("uids").toLong, props("uid_hash").toLong)
  }

  private def out(k: Int) = new File(jobsRoot(work), s"cc-crawl-$k")

  def call(spark: SparkSession, label: String, k: Int): Unit =
    last = Cc2Dataset.run(Cc2Config(out(k).getAbsolutePath, documentType = DocType,
      watCount = Some(Draws), multipart = None, shuffle = true, seed = seed),
      drawn, () => spark)

  def check(spark: SparkSession, label: String, k: Int): Option[String] = {
    import spark.implicits._
    val got = Inputs.fingerprint(spark.read.parquet(last._1).select("uid").as[String].collect().iterator)
    if (got == expected && last._2 == expected._1) None
    else Some(s"(rows, distinct uids, uid hash) $got and returned count ${last._2}, " +
      s"want $expected and ${expected._1}")
  }

  def cleanup(spark: SparkSession, k: Int): Unit = Inputs.deleteRecursively(out(k))

  def layers(spark: SparkSession, t: TraceCtx, parent: Int, k: Int): Map[String, Double] = {
    val payloads = WatExtract.payloads(spark, drawn)
    val links = WatExtract.extract(payloads, DocType).toDF()
    val uniques = Dedup.byKey(links, Seq("uid"))
    val shuffled = Shuffle.randomShuffle(uniques, seed)
    t.layer("prefix.payloads", parent)(count(payloads))
    val rows = t.layer("prefix.extract", parent)(count(links))
    val kept = t.layer("prefix.dedup", parent)(count(uniques))
    t.layer("prefix.shuffle", parent)(count(shuffled))
    t.layer("prefix.repartition", parent)(count(Shuffle.repartitionForOutput(shuffled, Draws)))
    t.layer("prefix.write", parent)(
      Cc2Dataset.dedupRepartitionCount(links, out(k).getAbsolutePath, Draws, shuffle = true, seed))
    val (files, bytes) = parquetFiles(out(k))
    Inputs.deleteRecursively(out(k))
    Map("rows.in" -> rows.toDouble, "rows.dedup" -> kept.toDouble,
      "files.out" -> files.toDouble, "mb.out" -> bytes / 1048576.0,
      "reader.mb_per_s" -> readerMbPerS())
  }

  /** Inflated MB/s of `WatReader.metadataPayloads` on one thread, over
    * each distinct drawn archive once.
    */
  private def readerMbPerS(): Double = {
    val t0 = System.nanoTime()
    drawn.distinct.foreach { p =>
      val it = WatReader.metadataPayloads(p)
      try while (it.hasNext) it.next() finally it.close()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    drawn.distinct.map(Inputs.inflatedBytes).sum / 1048576.0 / secs
  }

  def stamp: Map[String, Any] = Map(
    "input" -> s"$Draws draws over $Archives synthetic WATs x $Records records x $Links links, bloat $Bloat",
    "records" -> recordsPerPass,
    "gz_mb" -> props("gz_bytes").toLong / 1048576.0,
    "inflated_mb" -> props("inflated_bytes").toLong / 1048576.0,
    "expected_uids" -> expected._1)
}

/** Iterative operators of the `ext` layer, called through
  * `SparkEntry.queries` over a generated near-duplicate documents table.
  * The table is the same for every run seed, like the fixture tables the
  * queries were written for, so the job counts per call repeat exactly.
  */
final class Iterative(work: File) extends Workload {
  val Docs = 500
  val DocsSeed = 42L

  // near-duplicate clustering (LSH pairs, connected components, one
  // keeper per cluster) and BPE (training, then encoding): two queries,
  // so that a pass is short and the JIT warms each one's plans quickly
  val labels = Seq("q_cluster_dedup", "q_bpe_encode")
  // after the oracle dump (see Harness), which warms up too. Driver-side
  // code keeps getting faster for about five passes after that; a window
  // that starts on that slope reads how far the JIT got, which varies
  // from run to run far more than the program's speed does.
  val warmupPasses = 5
  def recordsPerPass: Long = Docs.toLong

  private var dir: File = _

  def docsPath: String = new File(dir, "documents.parquet").getAbsolutePath

  /** One `documents.parquet` file, laid out like the fixture tables. */
  def prepare(spark: SparkSession): Unit =
    dir = Inputs.cached(inputsRoot(work), "iterative", s"s$DocsSeed-n$Docs") { tmp =>
      val written = new File(tmp, "written")
      Iterative.documents(spark, Docs, DocsSeed).coalesce(1).write.parquet(written.getAbsolutePath)
      val parts = written.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      require(parts.size == 1, s"expected one parquet file, got ${parts.size}")
      java.nio.file.Files.move(parts.head.toPath, new File(tmp, "documents.parquet").toPath)
      Inputs.deleteRecursively(written)
    }

  def call(spark: SparkSession, label: String, k: Int): Unit =
    count(SparkEntry.queries(label)(spark, dir.getAbsolutePath))

  /** Checked against the DuckDB oracles once per run: see [[dumpForOracle]]. */
  def check(spark: SparkSession, label: String, k: Int): Option[String] = None

  // some queries persist their result; a fresh process would hold none
  def cleanup(spark: SparkSession, k: Int): Unit = spark.catalog.clearCache()

  def layers(spark: SparkSession, t: TraceCtx, parent: Int, k: Int): Map[String, Double] = Map.empty

  /** Each query's result as parquet under `out/<query>`, beside
    * `oracle_sql.json`, the layout the oracle comparison reads.
    */
  def dumpForOracle(spark: SparkSession, out: File): Unit = {
    Inputs.deleteRecursively(out)
    out.mkdirs()
    labels.foreach { q =>
      try SparkEntry.queries(q)(spark, dir.getAbsolutePath).coalesce(1)
        .write.parquet(new File(out, q).getAbsolutePath)
      catch { case e: Exception => System.err.println(s"[perfbench] $q dump failed: ${Measure.describe(e)}") }
      spark.catalog.clearCache()
    }
    val sql = SparkEntry.oracleSql
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(labels.map(q => q -> sql(q)).toMap.asJava)
    java.nio.file.Files.write(new File(out, "oracle_sql.json").toPath, json.getBytes("UTF-8"))
  }

  def stamp: Map[String, Any] = Map(
    "input" -> s"$Docs documents (seed $DocsSeed, whatever the run seed), about a quarter near-duplicates",
    "records" -> recordsPerPass,
    "documents_mb" -> new File(docsPath).length / 1048576.0)
}

object Iterative {
  /** Fixed vocabulary; the seed picks the documents, not the words. */
  private val Vocabulary: IndexedSeq[String] = {
    val r = new scala.util.Random(7)
    val syl = Seq("ka", "lo", "mi", "ne", "tu", "ra", "si", "po", "ve", "da", "gri", "shu", "ten", "bor")
    (0 until 400).map(_ => Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.size))).mkString).distinct
  }

  /** `n` documents with the fixture table's schema. About a quarter are
    * copies of an earlier document with one to three words replaced, so
    * the near-duplicate graph has clusters to find.
    */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def word() = Vocabulary((math.pow(rnd.nextDouble(), 2) * Vocabulary.size).toInt)
    val langs = Seq("en", "fr", "de", "es", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val rows = (0 until n).map { i =>
      val words =
        if (i > 0 && rnd.nextInt(4) == 0) {
          val copy = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ => copy(rnd.nextInt(copy.length)) = word())
          copy
        } else Array.fill(20 + rnd.nextInt(60))(word())
      texts += words
      val text = words.mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(50)}", text.length.toLong)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
