package graft.perfbench

import java.lang.management.ManagementFactory

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"))
  }
}

/** Metric names and units, in the order BENCHMARK.json lists them. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "qps" -> "1/s", "quality" -> "score",
    "storage_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.request_ms" -> "ms", "pipeline.overhead_ms" -> "ms",
    "router.route_ms" -> "ms",
    "stats.build_s" -> "s", "stats.postings_per_query_term" -> "count",
    "retrieve.keyword_ms" -> "ms", "retrieve.vector_ms" -> "ms", "retrieve.hybrid_ms" -> "ms",
    "retrieve.topk_ms" -> "ms", "retrieve.rows_scored_per_result" -> "count",
    "answer.ms" -> "ms", "evalr.ms" -> "ms",
    "telemetry.log_ms" -> "ms", "telemetry.state_load_ms" -> "ms",
    "telemetry.rows_logged" -> "count",
    "similarity.index_build_s" -> "s", "similarity.census_ms" -> "ms") ++
    graft.operators.SimilarityOps.Tiers.map(t => s"similarity.tier_ms.$t" -> "ms") ++
    Seq("similarity.route_ms" -> "ms", "similarity.rows_read_per_query" -> "count",
      "similarity.append_encode_ms" -> "ms", "similarity.append_write_ms" -> "ms",
      "similarity.ingest_rows_per_s" -> "1/s", "similarity.files_per_cluster" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_mb" -> "MB", "spark.executor_cpu_ms" -> "ms", "spark.cached_mb" -> "MB",
      "spark.counts_repeat" -> "bool", "trace.op_p50_ms" -> "ms")

  def endToEnd(rep: Report, setupS: Double, p50Ms: Double, qps: Double, quality: Double,
      storageMb: Double): Unit = {
    rep.metric("setup_s", setupS, "s")
    rep.metric("p50_ms", p50Ms, "ms")
    rep.metric("qps", qps, "1/s")
    rep.metric("quality", quality, "score")
    rep.metric("storage_mb", storageMb, "MB")
  }

  /** Per-layer metrics: the median of each span's samples; 0 for a layer
    * the workload never enters. */
  def perLayer(rep: Report): Unit = {
    rep.metrics.clear()
    PerLayer.foreach { case (n, u) => rep.metric(n, Stats.median(rep.samplesOf(n)), u) }
  }
}

/** Benchmark entry: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <scratch dir>`. Prints an input/info JSON line, then the result
  * line; exits 1 when any correctness gate failed. */
object Main {
  /** Stop starting timed operations past this many seconds of process age. */
  val SafetyS = 120.0

  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def sinceStartS(): Double = (System.currentTimeMillis() - startMs) / 1000.0

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rep = new Report
    val spark = graft.Cli.session()
    val counters = if (a.trace) Some(SparkCounters.attach(spark)) else None
    try {
      a.workload match {
        case "text_online" => TextOnline.run(spark, a, rep, counters)
        case "ann_serve_ingest" => AnnServeIngest.run(spark, a, rep, counters)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rep.attempted = math.max(1, rep.attempted)
        rep.failed += 1
        rep.gate(false, s"workload aborted: $e")
    } finally spark.stop()
    if (a.trace) Metrics.perLayer(rep)
    else Metrics.EndToEnd.foreach { case (n, u) => if (!rep.metrics.contains(n)) rep.metric(n, 0, u) }
    rep.info("workload") = a.workload
    rep.info("seed") = a.seed
    rep.info("gate_failures") = rep.gateFailures.toSeq
    println(Json.value(rep.info))
    println(rep.resultJson)
    System.out.flush()
    sys.exit(if (rep.correct) 0 else 1)
  }
}
