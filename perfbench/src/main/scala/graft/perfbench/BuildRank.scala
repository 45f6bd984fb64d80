package graft.perfbench

import org.apache.spark.sql.Row

import graft.index.IndexBuilder
import graft.index.IndexBuilder.BuildReport
import graft.query.Bm25Search

/** build_rank: each pass builds the index over the pre-written pages into
  * a fresh directory, then ranks the fixed query batch on it with
  * `searchPersisted`. */
object BuildRank {

  /** Set-up passes; setup_s reports their median. */
  val WarmPasses = 2

  private final case class Pass(dir: String, reports: Seq[BuildReport], buildS: Double,
                                rankS: Double, rows: Array[Row],
                                buildCounts: Counts = Counts(), rankCounts: Counts = Counts()) {
    def seconds: Double = buildS + rankS
  }

  def run(ctx: Ctx, in: Inputs): Unit = {
    val cfg = ctx.cfg
    val spark = ctx.spark
    val pages = spark.read.parquet(in.basePages)
    val batch = Bench.batchFrame(spark, in.batch)
    var n = 0
    var last: Option[Pass] = None

    def pass(counted: Boolean): Pass = {
      val dir = ctx.dir(s"build_rank/pass-$n")
      n += 1
      Bench.rmrf(dir)
      def count[T](body: => T): (T, Counts) =
        if (counted) ctx.counters.measure(body) else (body, Counts())
      val ((reports, buildS), bc) = count(Bench.timed(ctx.span("index.build") {
        IndexBuilder.build(spark, pages, dir)
      }))
      val ((rows, rankS), rc) = count(Bench.timed(ctx.span("query.rank") {
        Bm25Search.searchPersisted(batch, IndexBuilder.open(spark, dir), Config.K).collect()
      }))
      last.foreach(p => Bench.rmrf(p.dir))
      val p = Pass(dir, reports, buildS, rankS, rows, bc, rc)
      last = Some(p)
      ctx.report.ops(1 + cfg.batch)
      p
    }

    def passesFor(seconds: Double, counted: Boolean): Seq[Pass] =
      Bench.unitsWithin(seconds)(pass(counted))(_.seconds)

    // set-up: warm-up passes (JIT, codegen, file-system caches); the first
    // in a JVM runs cold, the second still compiles hot paths
    val warm = (1 to WarmPasses).map(_ => pass(counted = false))
    val setupS = ctx.sparkStartS + Stats.median(warm.map(_.seconds))

    if (!cfg.trace) {
      val passes = passesFor(cfg.seconds, counted = false)
      val docs = passes.head.reports.find(_.stage == "docs").get.rows
      val buildS = Stats.median(passes.map(_.buildS))
      val rankS = Stats.median(passes.map(_.rankS))
      val lat = Bench.perQueryLatencies(passes.map(_.rankS), cfg.batch)
      val dir = last.get.dir
      val ratio = Bench.dirBytes(dir).toDouble /
        Bench.textBytes(spark, Seq(IndexBuilder.stageDir(dir, "docs")))
      val e = ctx.report.e2e
      e("setup_s") = (setupS, "s")
      e("docs_per_s") = (docs / buildS, "docs/s")
      e("index_bytes_per_text_byte") = (ratio, "ratio")
      e("query_qps") = (cfg.batch / rankS, "1/s")
      e("query_p50_ms") = (Stats.median(lat), "ms")
      e("query_p75_ms") = (Stats.quantile(lat, 0.75), "ms")
      val nm = ctx.report.named
      nm("build_docs_per_s") = (docs / buildS, "docs/s")
      nm("rank_qps") = (cfg.batch / rankS, "queries/s")
      nm("index_bytes_per_text_byte") = (ratio, "ratio")
      ctx.report.notes += s"passes=${passes.size} latency_samples=${lat.size} docs=$docs"
      ctx.report.notes += "warm_s=" + warm.map(p => f"${p.buildS}%.2f+${p.rankS}%.2f").mkString(",")
      ctx.report.notes += s"pass_s=${passes.map(p => f"${p.buildS}%.2f+${p.rankS}%.2f").mkString(",")}"
    } else {
      val untraced = passesFor(cfg.seconds / 2, counted = false)
      Bench.resetHeapPeak()
      val gc0 = Bench.jvmGcMs()
      ctx.counters.snapshot()
      val traced = (1 to untraced.size).map(_ => pass(counted = true))
      Layers.recordRuntime(ctx, gc0, Stats.median(traced.map(_.seconds)),
        Stats.median(untraced.map(_.seconds)))
      val r = ctx.report.layer
      Seq("docs", "corpusstats", "blocks", "termstats").foreach { s =>
        r(s"index.${s}_s") = Stats.median(traced.map(_.reports.find(_.stage == s).get.seconds))
      }
      val reports = traced.head.reports.map(b => b.stage -> b.rows).toMap
      r("index.docs_rows") = reports("docs").toDouble
      r("index.blocks_rows") = reports("blocks").toDouble
      r("index.terms") = reports("termstats").toDouble
      def medBuild(f: Counts => Long) = Stats.median(traced.map(p => f(p.buildCounts).toDouble))
      r("index.shuffle_write_bytes") = medBuild(_.shuffleWriteBytes)
      r("index.spill_bytes") = medBuild(_.spillBytes)
      r("index.gc_s") = medBuild(_.gcMs) / 1000.0
      r("index.jobs") = medBuild(_.jobs)
      r("index.tasks") = medBuild(_.tasks)
      val dir = last.get.dir
      Layers.analysisCodec(ctx, dir, withCodec = true)
      Layers.catalog(ctx, dir, Seq(dir))
      val index = IndexBuilder.open(spark, dir)
      val q = (1 to 2).map(_ => Layers.query(ctx, index, in.batch, Config.K))
      val rankCounts = traced.minBy(_.rankS).rankCounts
      Layers.recordQuery(ctx, q, cfg.batch, Config.K, rankCounts)
      Update.traced(ctx, in, dir)
    }

    // correctness, on the last pass's answers
    val p = last.get
    val answers = Checks.byQid(Checks.hitsOf(p.rows.toSeq))
    val docsDir = IndexBuilder.stageDir(p.dir, "docs")
    ctx.report.check("planted_in_topk",
      Checks.planted(answers, Checks.plantedTargets(spark, Seq(docsDir), in.batch)))
    val sample = Checks.sample(in.batch.map(_._1), cfg.checkSample, cfg.seed)
    val ref = Checks.reference(spark, IndexBuilder.open(spark, p.dir),
      in.batch.filter(q => sample.contains(q._1)), Config.K)
    ctx.report.check("batch_equals_searchFull", Checks.sameRows(answers, ref, sample))
  }
}
