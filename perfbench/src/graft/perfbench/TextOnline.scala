package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.answer.Answer
import graft.evalr.Evaluator
import graft.pipeline.Pipeline
import graft.retrieve.Retrievers
import graft.router.Router
import graft.telemetry.{ParquetTelemetryStore, TelemetryStore}

/** `text_online`: one client sends routed questions through
  * `Pipeline.runOnce` (plus the caller's collect) over the bundled corpus,
  * with a fresh parquet telemetry store at zero router state. */
object TextOnline {
  val K = 5
  val CorpusPath = "data/corpus.jsonl"
  val LabelsPath = "data/labels.jsonl"

  /** Zero-state golden routing and scores (BASELINE.md parity rows). */
  val GoldenStrategy: Map[String, String] =
    (1 to 14).map(i => f"Q-$i%03d" -> "keyword").toMap ++
      Map("Q-001" -> "hybrid", "Q-006" -> "hybrid")
  val GoldenScore: Map[String, Double] =
    (1 to 14).map(i => f"Q-$i%03d" -> 1.0).toMap + ("Q-012" -> 0.7)

  private val TopSchema = StructType(Seq(
    StructField("query_id", StringType), StructField("doc_id", StringType),
    StructField("doc_idx", LongType), StructField("score", DoubleType),
    StructField("rank", IntegerType)))

  def run(spark: SparkSession, a: Args, rep: Report, counters: Option[SparkCounters]): Unit = {
    val sessionS = Main.sinceStartS()
    val docs = Pipeline.loadCorpusJsonl(spark, CorpusPath)
    val labels = Pipeline.loadLabelsJsonl(spark, LabelsPath)
    val (idx, buildMs) = Clock.timed {
      val i = Pipeline.buildIndexes(docs)
      i.docs.count(); i.token.docTermFreq.count(); i.token.termStats.count()
      i.token.docLen.count(); i.gram.docGramVec.count(); i.gram.gramStats.count()
      i.gram.docNorm.count()
      i
    }
    val refDocs = idx.docs.select("doc_id", "title", "text", "doc_idx").collect()
      .map(r => RefDoc(r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.docIdx).toIndexedSeq
    val ref = new RefText(refDocs)
    val golden = labels.select("query_id", "query").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    val realStore = new ParquetTelemetryStore(spark, s"${a.work}/telemetry")
    val timing = new TimingTelemetryStore(realStore)
    val store: TelemetryStore = if (a.trace) timing else realStore
    var acked = 0L

    /** Gate one response; returns (strategy, score) when it passes. */
    def check(q: String, rows: Array[Row]): Option[(String, Double)] = {
      if (!rep.gate(rows.length == 1, s"'$q': ${rows.length} result rows")) return None
      val r = rows(0)
      val strategy = r.getAs[String]("strategy")
      val top = r.getAs[scala.collection.Seq[Row]]("top_k").map(t => t.getString(0) -> t.getDouble(1)).toSeq
      val ids = top.map(_._1)
      val ok = rep.gate(ids.size == K && ids.distinct.size == K, s"'$q': ids $ids are not $K distinct") &&
        rep.gate(top.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)),
          s"'$q': scores increase") && {
          val refScores = ref.scores(strategy, q)
          val byId = refDocs.map(_.docId).zip(refScores).toMap
          val diff = RefText.compare(top, ref.topK(strategy, q, K), byId)
          rep.gate(diff.isEmpty, s"'$q' ($strategy) disagrees with the reference scorer: ${diff.getOrElse("")}")
        }
      if (ok) Some(strategy -> r.getAs[Double]("score")) else None
    }

    def serve(q: String): (Array[Row], Double) = {
      val res = Clock.timed(Pipeline.runOnce(spark, idx, labels, store, q, K).collect())
      acked += 1
      res
    }

    // Every golden query routes as pinned at zero state (one batched call).
    val goldenDf = labels.select("query_id", "query")
    rep.op("golden routing") {
      Router.route(Router.features(goldenDf, idx.token.termStats.select("term"), idx.token.rareTerms),
        realStore.loadRouterState()).select("query_id", "strategy").collect().forall { r =>
        rep.gate(GoldenStrategy.get(r.getString(0)).contains(r.getString(1)),
          s"${r.getString(0)} routes to ${r.getString(1)} at zero state")
      }
    }
    // Warm-up: a golden request, gated against its pinned zero-state values.
    val warm = Seq(Inputs.goldenWarmup(a.seed))
    val goldenScores = warm.flatMap { gid =>
      var got = Option.empty[Double]
      if (a.trace) traceArms(spark, idx, golden(gid), rep)
      rep.op(s"golden $gid") {
        val (rows, _) = serve(golden(gid))
        check(golden(gid), rows).exists { case (s, score) =>
          got = Some(score)
          rep.gate(s == GoldenStrategy(gid), s"$gid routed to $s, pinned ${GoldenStrategy(gid)}") &&
            rep.gate(math.abs(score - GoldenScore(gid)) < 1e-9, s"$gid scored $score, pinned ${GoldenScore(gid)}")
        }
      }
      got
    }
    val setupS = Main.sinceStartS()

    val stream = Inputs.textStream(a.seed, golden.values.toSet, 100)
    val kinds = Inputs.TimedKinds.size
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val strategies = scala.collection.mutable.ArrayBuffer.empty[String]
    val jobsByKind = scala.collection.mutable.Map.empty[String, Set[Long]]
    val w0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - w0) / 1e9
    var i = 0
    while (i < stream.size && !(i > 0 && i % kinds == 0 && elapsedS >= a.seconds) &&
        Main.sinceStartS() < Main.SafetyS) {
      val req = stream(i)
      if (a.trace) traceLayers(spark, idx, ref, realStore, req.query, rep)
      timing.reset()
      val before = counters.map(_.snapshot(spark.sparkContext))
      rep.op(s"request $i") {
        val (rows, ms) = serve(req.query)
        lat += ms
        check(req.query, rows).exists { case (s, _) => strategies += s; true }
      }
      for (c <- counters; b <- before) {
        val d = c.snapshot(spark.sparkContext) - b
        rep.sample("spark.jobs", d.jobs); rep.sample("spark.stages", d.stages)
        rep.sample("spark.tasks", d.tasks); rep.sample("spark.shuffle_mb", d.shuffleBytes / 1e6)
        rep.sample("spark.executor_cpu_ms", d.cpuNs / 1e6)
        jobsByKind(req.kind) = jobsByKind.getOrElse(req.kind, Set.empty) + d.jobs
        rep.sample("telemetry.log_ms", timing.logNs / 1e6)
        rep.sample("telemetry.state_load_ms", timing.stateLoadNs / 1e6)
        val (postings, terms) = ref.postings(req.query)
        rep.sample("stats.postings", postings); rep.sample("stats.terms", terms)
        rep.sample("pipeline.request_ms", lat.last)
        val spans = Seq("telemetry.state_load_ms", "router.route_ms", "retrieve.arm_ms",
          "retrieve.topk_ms", "answer.ms").map(n => rep.samplesOf(n).lastOption.getOrElse(0.0)).sum
        rep.sample("pipeline.overhead_ms", lat.last - spans)
        rep.sample("retrieve.rows_scored_per_result",
          refDocs.size.toDouble * (if (strategies.lastOption.contains("hybrid")) 2 else 1) / K)
      }
      i += 1
    }
    val windowS = elapsedS

    // Run end: the store must hold exactly one run row per acknowledged request.
    val logged = spark.read.parquet(s"${a.work}/telemetry/runs").count()
    rep.gate(logged == acked, s"telemetry holds $logged run rows, $acked requests acknowledged")
    val cachedMb = SparkCounters.heldMb(spark)

    rep.info("inputs") = Map(
      "corpus_rows" -> refDocs.size, "golden_warmups" -> warm,
      "timed_requests" -> lat.size, "distinct_query_share" ->
        (stream.take(lat.size).map(_.query).distinct.size.toDouble / math.max(1, lat.size)),
      "timed_kind_cycle" -> Inputs.TimedKinds, "k" -> K)
    rep.info("phases_s") = Map("session" -> sessionS, "index_build" -> buildMs / 1000,
      "setup" -> setupS, "window" -> windowS, "latencies_ms" -> lat.toSeq)
    rep.info("strategies") = strategies.groupBy(identity).map { case (s, v) => s -> v.size }
    Metrics.endToEnd(rep, setupS = setupS, p50Ms = Stats.median(lat.toSeq),
      qps = lat.size / windowS, quality = Stats.mean(goldenScores), storageMb = cachedMb)

    if (a.trace) {
      rep.info("spark_counts_repeat") = jobsByKind.map { case (k, v) => k -> (v.size == 1) }
      rep.sample("stats.build_s", buildMs / 1000)
      rep.sample("stats.postings_per_query_term",
        rep.samplesOf("stats.postings").sum / math.max(1.0, rep.samplesOf("stats.terms").sum))
      rep.sample("telemetry.rows_logged", logged.toDouble)
      rep.sample("spark.cached_mb", cachedMb)
      rep.sample("spark.counts_repeat", if (jobsByKind.values.forall(_.size == 1)) 1 else 0)
      rep.sample("trace.op_p50_ms", Stats.median(lat.toSeq))
    }
  }

  /** Scoring spans of all three arms for the warm-up request, so the arms
    * the timed stream does not route to are measured too. */
  private def traceArms(spark: SparkSession, idx: Pipeline.Indexes, query: String,
      rep: Report): Unit = {
    import spark.implicits._
    val q1 = Seq(("q", query)).toDF("query_id", "query")
    Seq("keyword", "vector", "hybrid").foreach { arm =>
      rep.sample(s"retrieve.${arm}_ms", Clock.ms(Pipeline.armScores(arm, q1, idx)
        .write.format("noop").mode("overwrite").save()))
    }
  }

  /** Per-layer spans for one request, taken before its pipeline call:
    * each layer's own entry point, forced with a non-caching action. */
  private def traceLayers(spark: SparkSession, idx: Pipeline.Indexes, ref: RefText,
      store: TelemetryStore, query: String, rep: Report): Unit = {
    import spark.implicits._
    val q1 = Seq(("q", query)).toDF("query_id", "query")
    val state = store.loadRouterState()
    val (strategy, routeMs) = Clock.timed(Router.route(
      Router.features(q1, idx.token.termStats.select("term"), idx.token.rareTerms), state)
      .select("strategy").collect()(0).getString(0))
    val armMs = Clock.ms(Pipeline.armScores(strategy, q1, idx)
      .write.format("noop").mode("overwrite").save())
    val (top, topMs) = Clock.timed(
      Retrievers.topK(Pipeline.armScores(strategy, q1, idx), K)
        .select("query_id", "doc_id", "doc_idx", "score", "rank").collect())
    val localTop = spark.createDataFrame(top.toSeq.asJava, TopSchema)
    val topDocs = localTop.join(idx.docs.select("doc_id", "title", "text"), "doc_id")
    val (answers, answerMs) = Clock.timed {
      val a = Answer.generateAnswers(q1, topDocs).collect()
      Answer.buildContext(topDocs).collect()
      a
    }
    val answerDf = spark.createDataFrame(answers.toSeq.asJava,
      StructType(Seq(StructField("query_id", StringType), StructField("answer", StringType),
        StructField("citation", StringType))))
    val label = Seq(("q", ref.topK(strategy, query, 1).head._1, "")).toDF(
      "query_id", "expected_doc_id", "expected_answer")
    val evalMs = Clock.ms(Evaluator.scores(localTop, answerDf, label).collect())
    rep.sample("router.route_ms", routeMs)
    rep.sample(s"retrieve.${strategy}_ms", armMs)
    rep.sample("retrieve.arm_ms", armMs)
    rep.sample("retrieve.topk_ms", math.max(0.0, topMs - armMs))
    rep.sample("answer.ms", answerMs)
    rep.sample("evalr.ms", evalMs)
  }
}
