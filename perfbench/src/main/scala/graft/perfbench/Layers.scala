package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{Bm25Index, Bm25Params, IndexBuilder}
import graft.query.{Bm25IndexTables, Bm25Search}

/** Per-layer measurements taken from outside the program: each layer's
  * time is a prefix difference of actions that stop at successive layers
  * (see [[SelfTime.prefix]]), and each count is an action's result. */
object Layers {

  /** Run an aggregate that reads every column the layer produces, so
    * column pruning cannot skip the layer's work. */
  private def force(df: DataFrame, cols: String*): Long =
    df.agg(count(lit(1)), cols.map(c => sum(col(c))): _*).head.getLong(0)

  /** analysis.* and codec.* over a committed index (or segment) dir. */
  def analysisCodec(ctx: Ctx, indexDir: String, withCodec: Boolean): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(IndexBuilder.stageDir(indexDir, "docs"))
    val (postings, tTok) = Bench.timed(ctx.span("analysis.tokenize") {
      force(Bm25Index.postingsWithDl(docs), "tf", "dl")
    })
    ctx.report.layer("analysis.tokenize_s") = tTok
    ctx.report.layer("analysis.postings") = postings.toDouble
    if (withCodec) {
      val avgdl = spark.read.parquet(IndexBuilder.stageDir(indexDir, "corpusstats"))
        .select(col("avgdl")).head.getDouble(0)
      val (_, tEnc) = Bench.timed(ctx.span("codec.encode") {
        force(Bm25Index.blocksAgg(Bm25Index.postingsWithDl(docs), avgdl, Bm25Params())
          .select(length(col("doc_ids_enc")).as("a"), length(col("tfs_enc")).as("b"),
            length(col("dls_enc")).as("c")), "a", "b", "c")
      })
      val blocks = spark.read.parquet(IndexBuilder.stageDir(indexDir, "blocks"))
      val (_, tScan) = Bench.timed(ctx.span("catalog.scan") {
        force(blocks.select(length(col("doc_ids_enc")).as("a"), length(col("tfs_enc")).as("b"),
          length(col("dls_enc")).as("c")), "a", "b", "c")
      })
      val (_, tDec) = Bench.timed(ctx.span("codec.decode") {
        force(Bm25Index.decodeBlocks(blocks), "doc_id", "tf", "dl")
      })
      ctx.report.layer("codec.encode_s") = math.max(0.0, tEnc - tTok)
      ctx.report.layer("codec.decode_s") = math.max(0.0, tDec - tScan)
      val blocksBytes = Bench.dirBytes(IndexBuilder.stageDir(indexDir, "blocks"))
      ctx.report.layer("codec.bytes_per_posting") =
        if (postings > 0) blocksBytes.toDouble / postings else 0.0
    }
  }

  /** catalog.*: stage bytes summed over `indexDirs` (a base index and its
    * segments), data files counted under `root`. */
  def catalog(ctx: Ctx, root: String, indexDirs: Seq[String]): Unit = {
    def stage(s: String) = indexDirs.map(d => Bench.dirBytes(IndexBuilder.stageDir(d, s))).sum
    ctx.report.layer("catalog.docs_bytes") = stage("docs").toDouble
    ctx.report.layer("catalog.blocks_bytes") = stage("blocks").toDouble
    ctx.report.layer("catalog.termstats_bytes") = stage("termstats").toDouble
    ctx.report.layer("catalog.files") = Bench.dataFiles(root).toDouble
  }

  /** Times and counts of compile → probe → decode → score → top-k for one
    * batch over an open index, each an action that stops at that layer. */
  final case class QueryLayers(seconds: Seq[(String, Double)], termsCompiled: Long,
                               termsUnknown: Long, blocksProbed: Long,
                               postingsDecoded: Long, candidates: Long)

  def query(ctx: Ctx, index: Bm25IndexTables, batch: Seq[(Long, String)], k: Int): QueryLayers = {
    val spark = ctx.spark
    val queries = Bench.batchFrame(spark, batch)
    val (qterms, tCompile) = Bench.timed(ctx.span("query.compile") {
      val q = Bm25Search.compileQueriesLocal(queries, index.termStats)
      q.collect(); q
    })
    val compiled = qterms.select(col("term"), col("term_id")).collect()
    val known = compiled.map(_.getString(0)).toSet
    val asked = Bm25Search.tokenizeQueriesDriver(queries).map(_._2).toSet
    val ids = compiled.map(_.getLong(1)).distinct.toSeq
    val probe = index.probeBlocks(ids)
    val (blocks, tProbe) = Bench.timed(ctx.span("query.probe") {
      force(probe.select(length(col("doc_ids_enc")).as("a"), length(col("tfs_enc")).as("b"),
        length(col("dls_enc")).as("c")), "a", "b", "c")
    })
    val decoded = index.decode(probe)
    val (postings, tDecode) = Bench.timed(ctx.span("query.decode") {
      force(decoded, "doc_id", "tf", "dl")
    })
    val scored = Bm25Search.scores(Bm25Search.hits(qterms, decoded, index.corpusStatsLocal))
    val (candidates, tScore) = Bench.timed(ctx.span("query.score") { force(scored, "score") })
    val (_, tTopK) = Bench.timed(ctx.span("query.topk") {
      force(Bm25Search.topK(scored, k), "score", "rank")
    })
    val cumulative = Seq("compile" -> tCompile, "probe" -> (tCompile + tProbe),
      "decode" -> (tCompile + tDecode), "score" -> (tCompile + tScore),
      "topk" -> (tCompile + tTopK))
    QueryLayers(SelfTime.prefix(cumulative), qterms.count(), (asked -- known).size.toLong,
      blocks, postings, candidates)
  }

  /** Record the median of several [[query]] measurements as query.*. */
  def recordQuery(ctx: Ctx, runs: Seq[QueryLayers], queries: Int, k: Int, batch: Counts): Unit = {
    val r = ctx.report.layer
    Seq("compile", "probe", "decode", "score", "topk").foreach { l =>
      r(s"query.${l}_s") = Stats.median(runs.map(_.seconds.toMap.apply(l)))
    }
    def med(f: QueryLayers => Long) = Stats.median(runs.map(f(_).toDouble))
    r("query.terms_compiled") = med(_.termsCompiled)
    r("query.terms_unknown") = med(_.termsUnknown)
    r("query.blocks_probed") = med(_.blocksProbed)
    r("query.postings_decoded") = med(_.postingsDecoded)
    r("query.candidates") = med(_.candidates)
    r("query.postings_per_result") = med(_.postingsDecoded) / math.max(1, queries * k)
    r("query.input_bytes") = batch.inputBytes.toDouble
    r("query.shuffle_bytes") = batch.shuffleWriteBytes.toDouble
    r("query.jobs") = batch.jobs.toDouble
    r("query.tasks") = batch.tasks.toDouble
  }

  /** runtime.* over the traced window. */
  def recordRuntime(ctx: Ctx, gcMsBefore: Long, tracedS: Double, untracedS: Double): Unit = {
    ctx.report.layer("runtime.gc_s") = (Bench.jvmGcMs() - gcMsBefore) / 1000.0
    ctx.report.layer("runtime.heap_peak_mb") = Bench.heapPeakMb()
    ctx.report.layer("runtime.tracing_overhead") = if (untracedS > 0) tracedS / untracedS else 0.0
  }
}
