package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexBuilder
import graft.query.Bm25Search

class PerfbenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val benchmark: JsonNode = mapper.readTree(Files.readString(Paths.get("../BENCHMARK.json")))

  private def declared(key: String): Seq[(String, String)] =
    benchmark.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** Every workload at a size that runs in seconds. */
  private def tiny(workload: String, trace: Boolean): Config =
    Config(workload, seed = 5L, seconds = 1.0, trace = trace,
      work = s"target/selftest/$workload-$trace", cores = 2,
      pages = 700, batch = 16, segPages = 200, removes = 20, updateBatch = 8,
      checkSample = 4)

  test("the metric catalog is the one BENCHMARK.json declares") {
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
    assert(benchmark.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workloads.names)
  }

  for (w <- Workloads.names; trace <- Seq(false, true))
    test(s"$w runs end to end (trace=$trace) and emits every declared metric") {
      val report = Main.execute(tiny(w, trace))
      assert(report.correct, report.checks)
      assert(report.failed == 0 && report.attempted > 0)
      assert(report.checks.forall(_._3 > 0), report.checks)
      val result = mapper.readTree(Metrics.resultJson(report, trace))
      assert(result.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      val metrics = result.get("metrics")
      val want = declared(if (trace) "per_layer" else "end_to_end")
      assert(metrics.fieldNames().asScala.toSeq == want.map(_._1))
      want.foreach { case (name, unit) =>
        val m = metrics.get(name)
        assert(m.get("unit").asText == unit, name)
        assert(java.lang.Double.isFinite(m.get("value").asDouble), name)
      }
      if (!trace) want.foreach { case (name, _) => assert(metrics.get(name).get("value").asDouble > 0, name) }
    }

  test("self time subtracts the merged child intervals") {
    // root [0,100) has children a [10,40) and b [30,60) (overlapping: b
    // ran on another thread); a has child c [15,25)
    val spans = Seq(
      Span(1, "root", 0, 7, 0, 100),
      Span(2, "a", 1, 7, 10, 40),
      Span(3, "b", 1, 7, 30, 60),
      Span(4, "c", 2, 7, 15, 25))
    assert(SelfTime.ofSpans(spans) == Map(1 -> 50L, 2 -> 20L, 3 -> 30L, 4 -> 10L))
    assert(SelfTime.unionLength(Seq((0L, 10L), (5L, 12L), (20L, 30L))) == 22L)
  }

  test("prefix self time is the difference of successive cumulative actions") {
    val self = SelfTime.prefix(Seq("compile" -> 1.0, "probe" -> 3.0, "decode" -> 2.5, "score" -> 6.0))
    assert(self == Seq("compile" -> 1.0, "probe" -> 2.0, "decode" -> 0.0, "score" -> 3.5))
  }

  test("a deliberately wrong answer trips the correctness check") {
    val cfg = tiny("build_rank", trace = false)
    Bench.rmrf(cfg.work)
    val spark = Main.session(cfg)
    try {
      val in = Inputs.generate(spark, cfg)
      val dir = s"${cfg.work}/index"
      IndexBuilder.build(spark, spark.read.parquet(in.basePages), dir)
      val index = IndexBuilder.open(spark, dir)
      val answers = Checks.byQid(Checks.hits(
        Bm25Search.searchPersisted(Bench.batchFrame(spark, in.batch), index, Config.K)))
      val qids = answers.keys.toSeq.sorted.take(4)
      val ref = Checks.reference(spark, index, in.batch.filter(q => qids.contains(q._1)), Config.K)
      val good = new Report
      good.check("rows", Checks.sameRows(answers, ref, qids))
      assert(good.correct && good.failed == 0)

      // one score off by one ulp
      val q = qids.head
      val h = answers(q).head
      val wrong = answers.updated(q, h.copy(score = Math.nextUp(h.score)) +: answers(q).tail)
      val bad = new Report
      bad.check("rows", Checks.sameRows(wrong, ref, qids))
      assert(!bad.correct && bad.failed == 1 && bad.attempted == qids.size)

      // a planted query whose planted doc is missing from its answer
      val targets = Checks.plantedTargets(spark, Seq(IndexBuilder.stageDir(dir, "docs")), in.batch)
      assert(targets.nonEmpty)
      assert(Checks.planted(answers, targets).forall(identity))
      val (pq, doc) = targets.head
      val dropped = answers.updated(pq, answers(pq).filterNot(_.docId == doc))
      assert(Checks.planted(dropped, targets).count(!_) == 1)
    } finally spark.stop()
  }
}
