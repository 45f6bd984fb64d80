package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run parameters. The defaults are the benchmark's sizes; the
  * self-tests shrink them to run every workload on a tiny corpus. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    cores: Int,
    pages: Int = 12000,         // base corpus (≈60% English → indexed docs)
    batch: Int = 256,           // build_rank batch
    segPages: Int = 3000,       // update layer: pages of the added segment
    removes: Int = 1000,        // update layer: doc ids tombstoned
    updateBatch: Int = 64,      // update layer: batch ranked on each index
    checkSample: Int = 12)      // queries compared against searchFull

object Config {
  /** Results per query. */
  val K = 10

  def parse(args: Array[String]): Config = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")
    Config(
      workload = workload,
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = kv.getOrElse("work", "perfbench/.work"),
      cores = Runtime.getRuntime.availableProcessors())
  }
}

/** What one run found: operation and check tallies, the end-to-end
  * metrics (untraced run) and the per-layer metrics (traced run). */
final class Report {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Metrics under the names the workload table uses (printed, not gated). */
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.ArrayBuffer[(String, Int, Int)]() // (name, passed, total)
  val notes = mutable.ArrayBuffer[String]()

  def ops(n: Long, nFailed: Long = 0L): Unit = { attempted += n; failed += nFailed }

  /** A correctness check over `results`: every false entry is a failed op. */
  def check(name: String, results: Seq[Boolean]): Unit = {
    val pass = results.count(identity)
    checks += ((name, pass, results.size))
    ops(results.size, results.size - pass)
  }

  def correct: Boolean = checks.forall { case (_, p, t) => p == t }
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val cfg: Config, val tracer: Tracer,
                val sparkStartS: Double) {
  lazy val counters: SparkCounters = SparkCounters.register(spark.sparkContext)
  val report = new Report
  def dir(name: String): String = s"${cfg.work}/$name"

  def span[T](name: String, request: Long = -1L)(body: => T): T = tracer.span(name, request)(body)
}

object Bench {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong
  def before(deadlineNs: Long): Boolean = System.nanoTime() < deadlineNs

  /** Run whole units of work, at least one, while the next is expected to
    * end within `seconds` (judged by the last unit's duration). */
  def unitsWithin[T](seconds: Double)(unit: => T)(secondsOf: T => Double): Seq[T] = {
    val end = deadline(seconds)
    val out = Seq.newBuilder[T]
    var last = unit
    out += last
    while (System.nanoTime() + (secondsOf(last) * 1e9).toLong <= end) {
      last = unit
      out += last
    }
    out.result()
  }

  def rmrf(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
  }

  private def files(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      // Hadoop's local file system writes a .crc beside every file; they
      // are an artifact of the local FS, not part of the index format
      .filterNot(_.getFileName.toString.endsWith(".crc")).toSeq
  }

  /** On-disk bytes under `path` (checksum side files excluded). */
  def dirBytes(path: String): Long = files(path).map(Files.size).sum

  /** Parquet data files under `path`. */
  def dataFiles(path: String): Int = files(path).count(_.getFileName.toString.startsWith("part-"))

  /** UTF-8 bytes of the `text` column over the given docs tables. */
  def textBytes(spark: SparkSession, docsDirs: Seq[String]): Long =
    docsDirs.map(d => spark.read.parquet(d).agg(sum(octet_length(col("text")))).head.getLong(0)).sum

  def batchFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("qid", "text")
  }

  /** Every query of a batch is answered when the batch returns, so each
    * contributes one latency sample equal to the batch's wall time. */
  def perQueryLatencies(batchSeconds: Seq[Double], batchSize: Int): Seq[Double] =
    batchSeconds.flatMap(s => Seq.fill(batchSize)(s * 1000.0))

  def jvmGcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
