package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.index.IndexBuilder
import graft.query.SearchSession
import graft.serving.SearchHttpServer

/** serve: a warm `SearchSession` behind `SearchHttpServer`, driven by a
  * closed loop of clients, each sending its next request only when the
  * previous reply has arrived. */
object Serve {

  /** Every RepeatEvery-th request repeats an earlier one (an LRU hit).
    * Fixed positions, not a coin flip, so the hit share — which moves the
    * latency percentiles — is the same for every seed. */
  val RepeatEvery = 4

  /** Closed-loop clients: one process, at most nproc connections. */
  val Clients = 2

  final case class Reply(i: Int, query: String, ms: Double, status: Int, body: String)

  /** The seeded request stream: fresh queries from `pool` in order, and
    * in every [[RepeatEvery]]-th slot a seeded earlier request. */
  def stream(pool: Seq[String], seed: Long): Vector[String] = {
    val rng = new scala.util.Random(seed)
    var sent = Vector.empty[String]
    val fresh = pool.iterator
    while (fresh.hasNext)
      sent :+= (if (sent.size % RepeatEvery == RepeatEvery - 1) sent(rng.nextInt(sent.size))
                else fresh.next())
    sent
  }

  def get(port: Int, query: String, k: Int): (Int, String) = {
    val url = URI.create(s"http://127.0.0.1:$port/api/search?query=" +
      URLEncoder.encode(query, UTF_8) + s"&k=$k").toURL
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (status, body)
    } finally c.disconnect()
  }

  /** Run `clients` closed-loop clients over `requests` for `seconds`;
    * `next` is the shared stream position. Returns the replies and the
    * window's wall seconds and peak in-flight requests. */
  def closedLoop(ctx: Ctx, port: Int, requests: Vector[String], next: AtomicInteger,
                 seconds: Double): (Seq[Reply], Double, Int) = {
    val replies = new ConcurrentLinkedQueue[Reply]()
    val inflight = new AtomicInteger(0)
    val inflightMax = new AtomicInteger(0)
    val end = Bench.deadline(seconds)
    val t0 = System.nanoTime()
    val threads = (1 to Clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (Bench.before(end) && i < requests.size) {
          val q = requests(i)
          val now = inflight.incrementAndGet()
          inflightMax.accumulateAndGet(now, math.max)
          val s = System.nanoTime()
          val (status, body) =
            try ctx.span("serving.http", i.toLong)(get(port, q, Config.K))
            catch { case e: java.io.IOException => (-1, String.valueOf(e.getMessage)) }
          val ms = (System.nanoTime() - s) / 1e6
          inflight.decrementAndGet()
          replies.add(Reply(i, q, ms, status, body))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (replies.asScala.toSeq.sortBy(_.i), (System.nanoTime() - t0) / 1e9, inflightMax.get())
  }

  /** Latency samples in ms; a failed request misses every limit. */
  def latencies(rs: Seq[Reply]): Seq[Double] =
    rs.map(r => if (r.status == 200) r.ms else Double.MaxValue)

  def run(ctx: Ctx, in: Inputs): Unit = {
    val cfg = ctx.cfg
    val spark = ctx.spark
    val pages = spark.read.parquet(in.basePages)

    // set-up: base build + session open
    val dir = ctx.dir("serve/base")
    val (reports, buildS) = Bench.timed(ctx.span("index.build") {
      IndexBuilder.build(spark, pages, dir)
    })
    val (sess, openS) = Bench.timed(ctx.span("serving.open")(SearchSession.open(spark, dir)))
    val setupS = ctx.sparkStartS + buildS + openS
    val docs = reports.find(_.stage == "docs").get.rows
    val server = SearchHttpServer.start(sess, threads = cfg.cores)
    try {
      // disjoint query sets: the measured stream, the warm-up, the probes
      val pool = Inputs.texts(spark, 4000, cfg.pages, cfg.seed * 31 + 3)
      val warmUp = Inputs.texts(spark, 64, cfg.pages, cfg.seed * 31 + 5).filterNot(pool.toSet)
      val probes = Inputs.texts(spark, 64, cfg.pages, cfg.seed * 31 + 7)
        .filterNot((pool ++ warmUp).toSet)
      val requests = stream(pool, cfg.seed)
      closedLoop(ctx, server.port, warmUp.toVector, new AtomicInteger(0), 1.5)
      val next = new AtomicInteger(0)
      val ratio = Bench.dirBytes(dir).toDouble /
        Bench.textBytes(spark, Seq(IndexBuilder.stageDir(dir, "docs")))

      val measured =
        if (!cfg.trace) {
          val (rs, wallS, _) = closedLoop(ctx, server.port, requests, next, cfg.seconds)
          val ok = rs.count(_.status == 200)
          val lat = latencies(rs)
          val e = ctx.report.e2e
          e("setup_s") = (setupS, "s")
          e("docs_per_s") = (docs / buildS, "docs/s")
          e("index_bytes_per_text_byte") = (ratio, "ratio")
          e("query_qps") = (ok / wallS, "1/s")
          e("query_p50_ms") = (Stats.median(lat), "ms")
          e("query_p75_ms") = (Stats.quantile(lat, 0.75), "ms")
          val nm = ctx.report.named
          nm("serve_p50_ms") = (Stats.median(lat), "ms")
          nm("serve_p75_ms") = (Stats.quantile(lat, 0.75), "ms")
          nm("serve_qps") = (ok / wallS, "req/s")
          ctx.report.notes += s"requests=${rs.size} clients=$Clients window_s=$wallS"
          rs
        } else {
          val (untraced, _, _) = closedLoop(ctx, server.port, requests, next, cfg.seconds / 2)
          Bench.resetHeapPeak()
          val gc0 = Bench.jvmGcMs()
          ctx.counters.snapshot()
          val cached0 = sess.cacheSize
          val (traced, _, inflightMax) = closedLoop(ctx, server.port, requests, next, cfg.seconds / 2)
          val misses = sess.cacheSize - cached0
          Layers.recordRuntime(ctx, gc0, Stats.median(latencies(traced)),
            Stats.median(latencies(untraced)))
          probe(ctx, sess, probes, traced, misses, inflightMax, openS)
          Layers.catalog(ctx, dir, Seq(dir))
          untraced ++ traced
        }
      val failed = measured.count(_.status != 200)
      ctx.report.ops(measured.size, failed)

      // correctness: HTTP answers equal searchFull, planted docs found
      val ok = measured.filter(_.status == 200)
      val first = ok.groupBy(_.query).map(_._2.head).toSeq.sortBy(_.i)
      val base = IndexBuilder.open(spark, dir)
      val sample = Checks.sample(first.map(_.i.toLong), cfg.checkSample, cfg.seed)
        .map(i => first.find(_.i == i).get)
      val answers = first.map(r => r.i.toLong -> Checks.parseReply(r.i.toLong, r.body)).toMap
      val ref = Checks.reference(spark, base, sample.map(r => r.i.toLong -> r.query), Config.K)
      ctx.report.check("http_equals_searchFull",
        Checks.sameRows(answers, ref, sample.map(_.i.toLong)))
      ctx.report.check("planted_in_topk", Checks.planted(answers,
        Checks.plantedTargets(spark, Seq(IndexBuilder.stageDir(dir, "docs")),
          first.map(r => r.i.toLong -> r.query))))
    } finally {
      server.stop()
      sess.close()
    }
  }

  /** serving.* and query.* below the HTTP layer, on queries never served. */
  private def probe(ctx: Ctx, sess: SearchSession, probes: Seq[String], traced: Seq[Reply],
                    misses: Int, inflightMax: Int, openS: Double): Unit = {
    val k = Config.K
    val (searchQs, rest) = probes.splitAt(math.min(5, probes.size / 3))
    val (serveQs, layerQs) = rest.splitAt(math.min(5, rest.size / 2))
    val searchMs = searchQs.map { q =>
      Bench.timed(ctx.span("serving.search") {
        sess.search(Bench.batchFrame(ctx.spark, Seq(0L -> q)), k).collect()
      })._2 * 1000
    }
    val serve = serveQs.map { q =>
      val from = System.currentTimeMillis()
      val ((_, s), counts) = ctx.counters.measure(Bench.timed(ctx.span("serving.serve")(sess.serve(q, k))))
      val to = System.currentTimeMillis()
      (s * 1000, counts, ctx.counters.idleMs(from, to))
    }
    val serveMs = Stats.median(serve.map(_._1))
    // the first request of each query missed the cache
    val seen = scala.collection.mutable.Set[String]()
    val missMs = traced.filter(r => r.status == 200 && seen.add(r.query)).map(_.ms)
    val r = ctx.report.layer
    r("serving.open_s") = openS
    r("serving.search_ms") = Stats.median(searchMs)
    r("serving.serve_ms") = serveMs
    r("serving.http_ms") = Stats.median(missMs) - serveMs
    r("serving.jobs_per_query") = Stats.median(serve.map(_._2.jobs.toDouble))
    r("serving.tasks_per_query") = Stats.median(serve.map(_._2.tasks.toDouble))
    r("serving.sched_wait_ms") = Stats.median(serve.map(_._3))
    r("serving.cache_hit_rate") =
      if (traced.isEmpty) 0.0 else (traced.size - misses).toDouble / traced.size
    r("serving.inflight_max") = inflightMax.toDouble
    val q = layerQs.take(3).map(t => Layers.query(ctx, sess.index, Seq(0L -> t), k))
    Layers.recordQuery(ctx, q, 1, k, serve.minBy(_._1)._2)
  }
}
