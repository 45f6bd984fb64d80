package graft.perfbench

import graft.index.{IndexBuilder, IndexUpdater}
import graft.query.{Bm25IndexTables, Bm25Search}

/** The update layer, measured in build_rank's traced run on a copy of the
  * last built index: add a segment of fresh pages, tombstone seeded doc
  * ids, openMerged, rank the update batch, then compact into a new
  * directory and rank the batch on the compacted index. Also checks the
  * merged answers against searchFull and against the compacted index. */
object Update {

  /** Timed batches on an index after a first one, whose time also holds
    * planning the query and listing new files. */
  val RankRepeats = 3

  private def docsRows(dir: String): Long =
    IndexBuilder.manifests(dir).find(_.stage == "docs").get.rows

  def traced(ctx: Ctx, in: Inputs, base: String): Unit = {
    val cfg = ctx.cfg
    val spark = ctx.spark
    val batch = Bench.batchFrame(spark, in.updateBatch)
    def rank(index: Bm25IndexTables) = ctx.span("query.rank") {
      Bm25Search.searchPersisted(batch, index, Config.K).collect().toSeq
    }
    def steadyRanks(index: Bm25IndexTables) = {
      rank(index)
      (1 to RankRepeats).map(_ => Bench.timed(rank(index)))
    }
    // the read-amplification base: the same batch on the base index
    val baseRankS = Stats.median(steadyRanks(IndexBuilder.open(spark, base)).map(_._2))

    val dir = ctx.dir("update/index")
    val compactDir = ctx.dir("update/compact")
    Bench.copyDir(base, dir)
    val seg = ctx.span("update.add") {
      IndexUpdater.add(spark, dir, spark.read.parquet(in.segmentPages.get))
    }
    val segDocs = docsRows(seg)
    val rng = new scala.util.Random(cfg.seed * 1009)
    val idSpan = docsRows(base) + segDocs
    val ids = Seq.fill(cfg.removes)((rng.nextDouble() * idSpan).toLong).distinct
    ctx.span("update.remove")(IndexUpdater.remove(spark, dir, ids))
    val merged = ctx.span("update.open_merged")(IndexUpdater.openMerged(spark, dir))
    val ranks = steadyRanks(merged)
    val tombstones = IndexUpdater.tombstones(spark, dir).fold(0L)(_.rows)
    val mergedDocs = (dir +: IndexUpdater.committedSegmentDirs(dir))
      .map(IndexBuilder.stageDir(_, "docs"))
    ctx.span("update.compact")(IndexUpdater.compact(spark, dir, compactDir))
    val compactRows = rank(IndexBuilder.open(spark, compactDir))
    ctx.report.ops(4 + (2 * RankRepeats + 3) * cfg.updateBatch)

    val r = ctx.report.layer
    Seq("add", "remove", "open_merged", "compact").foreach { l =>
      r(s"update.${l}_s") = Stats.median(ctx.tracer.seconds(s"update.$l"))
    }
    r("update.segments") = (mergedDocs.size - 1).toDouble
    r("update.tombstones") = tombstones.toDouble
    r("update.bytes_written_per_doc") = Bench.dirBytes(seg).toDouble / math.max(1L, segDocs)
    r("update.read_amp") = Stats.median(ranks.map(_._2)) / baseRankS

    val answers = Checks.byQid(Checks.hitsOf(ranks.last._1))
    val sample = Checks.sample(in.updateBatch.map(_._1), cfg.checkSample, cfg.seed)
    ctx.report.check("merged_equals_searchFull", Checks.sameRows(answers,
      Checks.reference(spark, merged, in.updateBatch.filter(q => sample.contains(q._1)), Config.K),
      sample))
    val compacted = Checks.byQid(Checks.hitsOf(compactRows))
    val urlsA = Checks.urls(spark, mergedDocs, answers.values.flatten.map(_.docId).toSeq)
    val urlsB = Checks.urls(spark, Seq(IndexBuilder.stageDir(compactDir, "docs")),
      compacted.values.flatten.map(_.docId).toSeq)
    ctx.report.check("merged_equals_compacted",
      Checks.sameRankingByUrl(answers, urlsA, compacted, urlsB))
  }
}
