package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.retrieve.Retrievers
import graft.router.{Router, RouterState}
import graft.stats.{GramIndex, TokenIndex}
import graft.telemetry.TelemetryStore

/** End-to-end wiring of the adaptive retrieval engine: the reference's two
  * entry points (reference run.py:16-73 and evaluate.py:16-116). Both
  * halves of the loop, the online `runOnce` and the batch
  * evaluate-and-update pass `evaluateAll`, run on the in-memory
  * [[ServeSnapshot]] of the built indexes. Spark builds the indexes and
  * does the label, router-state and telemetry I/O.
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

  /** The labels, read once into a local relation: filtering or collecting
    * it runs no job. */
  def loadLabelsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.createDataFrame(spark.read.schema(labelSchema).json(path).collect().toSeq.asJava,
      labelSchema)

  /** Built, cached retrieval indexes over a corpus
    * (doc_id, title, text, doc_idx). `serve` is their serving snapshot,
    * collected by the first `runOnce` or `evaluateAll` (once, however many
    * callers race). */
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

  private val Arms = Seq("vector", "keyword", "hybrid")

  /** `EvalOutcome.perQuery`'s columns, then the label's `expected_doc_id`
    * for the run log. */
  private val evalSchema: StructType = StructType(
    Seq("query_id", "query").map(StructField(_, StringType)) ++
      Seq(StructField("n_tokens", IntegerType)) ++
      Seq("digit_ratio", "oov_ratio", "rare_ratio", "heuristic_keyword", "heuristic_vector",
        "heuristic_hybrid", "score_keyword", "score_vector", "score_hybrid")
        .map(StructField(_, DoubleType)) ++
      Seq(StructField("strategy", StringType)) ++
      Arms.flatMap(a => Seq("hit", "em", "total").map(m => StructField(s"${a}_$m", DoubleType)) :+
        StructField(s"${a}_top_doc_ids", ArrayType(StringType))) ++
      Seq(StructField("chosen_total", DoubleType), StructField("expected_doc_id", StringType)))

  /** Batch evaluation + feedback (reference evaluate.py:16-116) over the
    * serving snapshot: every label is routed and scored on all three arms
    * on the driver; Spark reads the labels and the router state and writes
    * the state and the run log.
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
    val snap = idx.serve
    val state = store.loadRouterState()

    val evals = labels.select("query_id", "query", "expected_doc_id", "expected_answer")
      .collect().toSeq.map { l =>
        val q = l.getString(1)
        require(q != null, s"evaluateAll: label ${l.getString(0)} has a null query")
        val f = snap.features(q)
        val r = ServeSnapshot.route(f, state)
        val kw = snap.keyword(q)
        val vec = snap.vector(q)
        val arms = Seq(vec, kw, ServeSnapshot.blend(kw, vec)).map { scores =>
          val top = snap.topK(scores, k)
          snap.evaluate(top, snap.answer(q, top), l.getString(2), l.getString(3)) ->
            top.toSeq.map(snap.docId)
        }
        val totals = arms.map(_._1.total)
        val chosen = totals(Arms.indexOf(r.strategy))
        val row = Row.fromSeq(Seq(l.getString(0), q, f.nTokens, f.digitRatio, f.oovRatio,
          f.rareRatio, r.heuristicKeyword, r.heuristicVector, r.heuristicHybrid, r.scoreKeyword,
          r.scoreVector, r.scoreHybrid, r.strategy) ++
          arms.flatMap { case (e, ids) => Seq(e.hitAtK, e.exactMatch, e.total, ids) } ++
          Seq(chosen, l.getString(2)))
        (row, chosen, (totals(0), totals(1), totals(2)))
      }

    val evaluated = spark.createDataFrame(evals.map(_._1).asJava, evalSchema)
    val perQuery = evaluated.drop("expected_doc_id")
    val mean = evals.map(_._2).sum / math.max(1, evals.size)

    val newState = Router.update(state, evals.map(_._3))
    store.saveRouterState(newState)

    val runs = evaluated
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
    * the Spark work per request is the telemetry append (the label lookup
    * runs none over [[loadLabelsJsonl]]'s local relation). The returned
    * frame is a local relation: collecting it runs no job. With an empty
    * top-k (e.g. an empty corpus) it still returns the fallback answer
    * with score 0 and logs the run (run.py:63-73).
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
    // dedup deterministically on the highest query_id, nulls last.
    val score = labels.filter(col("query") === query)
      .select("query_id", "expected_doc_id", "expected_answer").collect()
      .maxByOption(l => Option(l.getString(0)))
      .fold(0.0)(l => snap.evaluate(top, answer, l.getString(1), l.getString(2)).total)

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
