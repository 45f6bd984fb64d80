package graft.perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Synthesizer

/** The generated inputs of one run. The program under test sees only the
  * parquet pages and the query rows; generating them is not timed. */
final case class Inputs(
    basePages: String,        // pages parquet of the base corpus
    segmentPages: Option[String], // traced build_rank: a segment of fresh urls
    batch: Seq[(Long, String)],
    updateBatch: Seq[(Long, String)])

object Inputs {

  /** Page id of a synthesized url (`…/p/<12-digit id>`). */
  def pageId(url: Column): Column = substring_index(url, "/", -1).cast("long")

  def generate(spark: SparkSession, cfg: Config): Inputs = {
    val dir = s"${cfg.work}/inputs"
    Bench.rmrf(dir)
    val withSegment = cfg.workload == "build_rank" && cfg.trace
    val total = cfg.pages.toLong + (if (withSegment) cfg.segPages else 0)
    val pages = Synthesizer.pages(spark, total, cfg.cores * 2, cfg.seed)
    def slice(from: Long, until: Long, to: String): String = {
      pages.filter(pageId(col("url")) >= from && pageId(col("url")) < until)
        .write.parquet(to)
      to
    }
    val base = slice(0L, cfg.pages.toLong, s"$dir/pages")
    val seg = Option.when(withSegment)(
      slice(cfg.pages.toLong, total, s"$dir/segment"))
    Inputs(base, seg,
      queries(spark, cfg.batch, cfg.pages, cfg.seed),
      queries(spark, cfg.updateBatch, cfg.pages, cfg.seed * 31 + 17))
  }

  def queries(spark: SparkSession, n: Int, pages: Long, seed: Long): Seq[(Long, String)] = {
    import spark.implicits._
    Synthesizer.queries(spark, n, pages, seed).as[(Long, String)].collect().toSeq
  }

  /** Distinct query texts from a seeded `Synthesizer.queries` set. */
  def texts(spark: SparkSession, n: Int, pages: Long, seed: Long): Seq[String] =
    queries(spark, n, pages, seed).map(_._2).distinct
}
