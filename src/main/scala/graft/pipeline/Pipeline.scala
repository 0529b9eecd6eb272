package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.answer.Answer
import graft.evalr.Evaluator
import graft.retrieve.Retrievers
import graft.router.{Router, RouterState}
import graft.stats.{GramIndex, TokenIndex}
import graft.telemetry.TelemetryStore

/** End-to-end wiring of the adaptive retrieval engine: the reference's two
  * entry points (reference run.py:16-73 and evaluate.py:16-116). Spark
  * builds the indexes and runs the batch evaluate-and-update pass as
  * DataFrame plans; the online `runOnce` serves from the in-memory
  * [[ServeSnapshot]] of the built indexes and leaves Spark only the label
  * lookup and the telemetry append.
  */
object Pipeline {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("title", StringType),
    StructField("text", StringType)))

  val labelSchema: StructType = StructType(Seq(
    StructField("query_id", StringType), StructField("query", StringType),
    StructField("expected_doc_id", StringType),
    StructField("expected_answer", StringType)))

  /** Load a JSONL corpus with a deterministic `doc_idx` = file line number
    * (0-based, blank lines skipped) — the stable-top-k tie-break key
    * (reference text.py:52-54 sorts by corpus position). zipWithIndex is
    * deterministic here because input-file splits are ordered by offset.
    */
  def loadCorpusJsonl(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
    val withIdx = lines.rdd.zipWithIndex.map { case (r, i) => (r.getString(0), i) }
    spark.createDataFrame(withIdx).toDF("value", "doc_idx")
      .select(from_json(col("value"), docSchema).as("d"), col("doc_idx"))
      .select(col("d.doc_id").as("doc_id"), col("d.title").as("title"),
        col("d.text").as("text"), col("doc_idx"))
  }

  def loadLabelsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(labelSchema).json(path)

  /** Built, cached retrieval indexes over a corpus
    * (doc_id, title, text, doc_idx). `serve` is their serving snapshot,
    * collected by the first `runOnce` (once, however many callers race). */
  final case class Indexes(docs: DataFrame, token: TokenIndex, gram: GramIndex) {
    lazy val serve: ServeSnapshot = ServeSnapshot.collect(this)
  }

  def buildIndexes(docs: DataFrame): Indexes = {
    val d = docs.cache()
    val full = concat(col("title"), lit(" "), col("text"))
    Indexes(d, TokenIndex.build(d, full).cache(), GramIndex.build(d, full).cache())
  }

  /** Dense scores for one arm. */
  def armScores(strategy: String, queries: DataFrame, idx: Indexes): DataFrame =
    strategy match {
      case "keyword" => Retrievers.keywordScores(queries, idx.token)
      case "vector"  => Retrievers.vectorScores(queries, idx.gram)
      case "hybrid"  => Retrievers.hybridScores(
        Retrievers.keywordScores(queries, idx.token),
        Retrievers.vectorScores(queries, idx.gram))
    }

  final case class EvalOutcome(
      perQuery: DataFrame, meanScore: Double, state: RouterState)

  /** Batch evaluation + feedback (reference evaluate.py:16-116).
    *
    * Semantics choice (documented in SURVEY.md §3.2): the reference routes
    * label i against state mutated by labels 1..i-1; the update deltas are
    * state-independent, so this build routes ALL labels against the frozen
    * pass-start state and applies the summed deltas once — identical final
    * weights, identical retrieval, and identical routing on the bundled
    * data; divergent mid-pass routing is possible in general.
    */
  def evaluateAll(
      spark: SparkSession,
      idx: Indexes,
      labels: DataFrame,
      store: TelemetryStore,
      k: Int = 5): EvalOutcome = {

    val queries = labels.select("query_id", "query")

    // Each arm feeds the evaluator, the answers, the top-id aggregate, and
    // (for kw/vec) the hybrid blend — cache the dense frames or Catalyst
    // re-executes each scoring subtree 4-6x inside the armTotals plan.
    val kw = Retrievers.keywordScores(queries, idx.token).cache()
    val vec = Retrievers.vectorScores(queries, idx.gram).cache()
    val hyb = Retrievers.hybridScores(kw, vec).cache()

    def armEval(name: String, scores: DataFrame): DataFrame = {
      val top = Retrievers.topK(scores, k).cache()
      val topDocs = top.join(idx.docs.select("doc_id", "title", "text"), "doc_id")
      val answers = Answer.generateAnswers(queries, topDocs)
      val ev = Evaluator.scores(top, answers, labels)
      val topIds = top.groupBy("query_id").agg(
        transform(array_sort(collect_list(struct(col("rank"), col("doc_id")))),
          s => s.getField("doc_id")).as(s"${name}_top_doc_ids"))
      ev.select(col("query_id"),
          col("hit_at_k").as(s"${name}_hit"),
          col("exact_match").as(s"${name}_em"),
          col("total").as(s"${name}_total"))
        .join(topIds, "query_id")
    }

    val armTotals = armEval("vector", vec)
      .join(armEval("keyword", kw), "query_id")
      .join(armEval("hybrid", hyb), "query_id")
      .cache()

    val state = store.loadRouterState()
    val routed = Router.route(
      Router.features(queries, idx.token.termStats.select("term"), idx.token.rareTerms),
      state)

    val perQuery = routed.join(armTotals, "query_id")
      .withColumn("chosen_total",
        when(col("strategy") === "vector", col("vector_total"))
          .when(col("strategy") === "keyword", col("keyword_total"))
          .otherwise(col("hybrid_total")))
      .cache()

    val mean = perQuery.agg(
      coalesce(sum(col("chosen_total")), lit(0.0)) /
        greatest(lit(1L), count(lit(1)))).collect()(0).getDouble(0)

    val newState = Router.applyDeltas(state,
      Router.updateDeltas(armTotals, state.lr))
    store.saveRouterState(newState)

    val runs = perQuery
      .join(labels.select("query_id", "expected_doc_id"), "query_id")
      .select(
        current_timestamp().cast("double").as("ts_unix"),
        col("query"),
        col("strategy"),
        col("chosen_total").as("score"),
        to_json(struct(
          lit(true).as("eval"),
          col("query_id"),
          col("expected_doc_id"),
          struct(col("n_tokens"), col("digit_ratio"), col("oov_ratio"),
            col("rare_ratio")).as("features"),
          struct(col("heuristic_keyword"), col("heuristic_vector"),
            col("heuristic_hybrid"), col("score_keyword"), col("score_vector"),
            col("score_hybrid")).as("route_meta"),
          struct(col("vector_total").as("score_total"), col("vector_hit").as("hit_at_k"),
            col("vector_em").as("exact_match"), col("vector_top_doc_ids").as("top_doc_ids"))
            .as("vector"),
          struct(col("keyword_total").as("score_total"), col("keyword_hit").as("hit_at_k"),
            col("keyword_em").as("exact_match"), col("keyword_top_doc_ids").as("top_doc_ids"))
            .as("keyword"),
          struct(col("hybrid_total").as("score_total"), col("hybrid_hit").as("hit_at_k"),
            col("hybrid_em").as("exact_match"), col("hybrid_top_doc_ids").as("top_doc_ids"))
            .as("hybrid"))).as("meta_json"))
    store.logRuns(runs)

    EvalOutcome(perQuery, mean, newState)
  }

  /** The frame `runOnce` returns. */
  val resultSchema: StructType = StructType(Seq(
    StructField("query", StringType), StructField("strategy", StringType),
    StructField("top_k", ArrayType(StructType(Seq(
      StructField("doc_id", StringType), StructField("score", DoubleType))))),
    StructField("answer", StringType), StructField("score", DoubleType),
    StructField("context", StringType)))

  /** Single-query entry point (reference run.py:16-73). Routes with the
    * current state, scores only the chosen arm, answers, scores the answer
    * if the query is labeled, and logs one run row. Routing, retrieval,
    * the answer and its evaluation run over the in-memory serving snapshot;
    * the Spark work per request is the label lookup and the telemetry
    * append. The returned frame is a local relation: collecting it runs no
    * job. With an empty top-k (e.g. an empty corpus) it still returns the
    * fallback answer with score 0 and logs the run (run.py:63-73).
    */
  def runOnce(
      spark: SparkSession,
      idx: Indexes,
      labels: DataFrame,
      store: TelemetryStore,
      query: String,
      k: Int = 5): DataFrame = {
    val snap = idx.serve
    val strategy = ServeSnapshot.route(snap.features(query), store.loadRouterState()).strategy
    val scores = snap.scores(strategy, query)
    val top = snap.topK(scores, k)
    val answer = snap.answer(query, top)

    // Reference keeps ONE label per query text (dict, last insertion wins);
    // dedup deterministically on the highest query_id.
    val score = labels.filter(col("query") === query)
      .orderBy(col("query_id").desc).limit(1)
      .select("expected_doc_id", "expected_answer").collect()
      .headOption.fold(0.0)(l => snap.evaluate(top, answer, l.getString(0), l.getString(1)).total)

    val result = spark.createDataFrame(java.util.List.of(Row(query, strategy,
      top.toSeq.map(i => Row(snap.docId(i), scores(i))), answer, score, snap.context(top))),
      resultSchema)

    store.logRuns(result.select(
      current_timestamp().cast("double").as("ts_unix"),
      col("query"), col("strategy"), col("score"),
      to_json(struct(lit(k).as("k"),
        transform(col("top_k"), r => r.getField("doc_id")).as("top_doc_ids"),
        substring(col("context"), 1, 240).as("context_preview"))).as("meta_json")))

    result
  }
}
