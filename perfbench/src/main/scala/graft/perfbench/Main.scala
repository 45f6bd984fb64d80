package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

object Workloads {
  val names: Seq[String] = Seq("build_rank", "serve")

  def run(ctx: Ctx, in: Inputs): Unit = ctx.cfg.workload match {
    case "build_rank" => BuildRank.run(ctx, in)
    case "serve" => Serve.run(ctx, in)
  }
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * (plus optional size overrides, see [[Config]]). Prints the metrics by
  * name, the checks, and as its last line the one-line JSON result; exits
  * 1 when a correctness check failed. */
object Main {

  def session(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"graft-perfbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.local.dir", Paths.get(cfg.work, "spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(cfg.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run one workload and return its report (the session is stopped). */
  def execute(cfg: Config): Report = {
    Bench.rmrf(cfg.work)
    val spark = session(cfg)
    // JVM start + Spark start, up to the first usable session
    val sparkStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    try {
      val ctx = new Ctx(spark, cfg, new Tracer(cfg.trace), sparkStartS)
      val (in, inputsS) = Bench.timed(Inputs.generate(spark, cfg))
      ctx.report.notes += f"spark_start_s=$sparkStartS%.2f inputs_s=$inputsS%.2f"
      Workloads.run(ctx, in)
      if (cfg.trace)
        ctx.tracer.write(Paths.get(cfg.work, s"spans-${cfg.workload}-${cfg.seed}.jsonl"))
      ctx.report
    } finally spark.stop()
  }

  def print(cfg: Config, report: Report): Unit = {
    val w = cfg.workload
    report.notes.foreach(n => println(s"note $w $n"))
    report.checks.foreach { case (name, pass, total) =>
      println(s"check $w $name ${if (pass == total) "ok" else "FAILED"} $pass/$total")
    }
    (report.e2e ++ report.named).foreach { case (n, (v, u)) => println(s"metric $w $n $v $u") }
    if (!cfg.trace)
      println(s"metric $w error_rate ${report.failed.toDouble / math.max(1L, report.attempted)} failed/attempted")
    println(Metrics.resultJson(report, cfg.trace))
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val report = execute(cfg)
    print(cfg, report)
    sys.exit(if (report.correct) 0 else 1)
  }
}
