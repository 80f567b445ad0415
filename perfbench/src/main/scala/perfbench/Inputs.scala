package perfbench

import java.io.{File, FileInputStream, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.hashing.MurmurHash3

import graft.wat.WatFixture

/** Seeded, cached benchmark inputs. An input set lives in one directory
  * named by its cache key (seed, shape, `WatFixture.GenVersion`). It is
  * built in a private temporary directory and renamed into place, so a
  * run killed half-way never leaves a partial set for a later run.
  */
object Inputs {

  /** Return `root/key`, building it with `build` on a miss. Older sets
    * with the same `family` prefix beyond the `keep` newest are deleted.
    */
  def cached(root: File, family: String, key: String, keep: Int = 3)(
      build: File => Unit): File = {
    root.mkdirs()
    val dir = new File(root, s"$family-$key")
    if (!dir.isDirectory) {
      // a killed run's partial set is dropped here, never reused
      val tmp = new File(root, s".tmp-${dir.getName}")
      deleteRecursively(tmp)
      tmp.mkdirs()
      build(tmp)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    dir.setLastModified(System.currentTimeMillis())
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"$family-") && f != dir)
      .sortBy(-_.lastModified()).drop(keep - 1)
      .foreach(deleteRecursively)
    dir
  }

  /** `n` synthetic WATs generated in parallel; archive `i` is seeded
    * from (`seed`, `i`) alone.
    */
  def wats(dir: File, n: Int, records: Int, links: Int, bloat: Int, seed: Long,
      threads: Int): Seq[String] =
    parallel(0 until n, threads) { i =>
      WatFixture.syntheticWat(new File(dir, f"wat-$i%03d.warc.wat.gz").getAbsolutePath,
        records, links, archiveSeed(seed, i), bloatUnits = bloat)
    }

  /** `f` over `items` on `threads` threads, results in input order. */
  def parallel[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(items.toList)(a => Future(f(a))), Duration.Inf)
    finally pool.shutdown()
  }

  def archiveSeed(seed: Long, i: Int): Long = seed * 1000003L + i

  /** A gzipped `wat.paths.gz` listing, as Common Crawl publishes. */
  def writeIndex(dir: File, paths: Seq[String]): String = {
    val f = new File(dir, "wat.paths.gz")
    val out = new GZIPOutputStream(new FileOutputStream(f))
    try out.write(paths.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    f.getAbsolutePath
  }

  /** Bytes after inflating every gzip member of `path`. */
  def inflatedBytes(path: String): Long = {
    val in = new GZIPInputStream(new FileInputStream(path), 1 << 16)
    try {
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) { total += n; n = in.read(buf) }
      total
    } finally in.close()
  }

  /** Order-independent fingerprint of a uid multiset: (rows, distinct
    * uids, wrapping sum of a 64-bit hash per distinct uid). Two outputs
    * hold the same uid set, each once, iff all three agree (up to hash
    * collisions).
    */
  def fingerprint(uids: Iterator[String]): (Long, Long, Long) = {
    val seen = new java.util.HashSet[String]()
    var rows = 0L
    var sum = 0L
    uids.foreach { u =>
      rows += 1
      if (seen.add(u))
        sum += (MurmurHash3.stringHash(u, 1).toLong << 32) | (MurmurHash3.stringHash(u, 2) & 0xffffffffL)
    }
    (rows, seen.size.toLong, sum)
  }

  def readProps(f: File): Map[String, String] =
    new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  def writeProps(f: File, props: Seq[(String, Any)]): Unit =
    Files.write(f.toPath, props.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
