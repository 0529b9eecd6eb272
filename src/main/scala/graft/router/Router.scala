package graft.router

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.textops.TextOps

/** Learned per-strategy additive biases
  * (/root/reference/src/beyond_vector_search/router.py:10-34). */
final case class RouterState(
    weightVector: Double = 0.0,
    weightKeyword: Double = 0.0,
    weightHybrid: Double = 0.0,
    lr: Double = 0.25)

/** The adaptive router: query featurization, heuristic arm scores, learned
  * weight addition and argmax with the reference's exact ≥ tie-break
  * precedence (hybrid ≥ keyword ≥ vector) as pure column arithmetic over a
  * (query_id, query) frame, and the bandit-style weight update as a
  * driver-side sum over one pass's arm totals
  * (/root/reference/src/beyond_vector_search/router.py:64-163,
  * text.py:32-41).
  */
object Router {

  /** Query features (text.py:32-41): token count, ratio of digit-bearing
    * tokens, out-of-vocabulary ratio, rare-term ratio; all-zero for empty
    * queries. Membership tests are left joins of the exploded token list
    * against the (broadcastable) term frames — no driver-side sets.
    *
    * @param vocab (term) frame; @param rare (term) frame
    */
  def features(queries: DataFrame, vocab: DataFrame, rare: DataFrame): DataFrame = {
    val toks = queries.select(col("query_id"),
      explode(TextOps.tokenize(col("query"))).as("token"))

    val flagged = toks
      .join(broadcast(vocab.select(col("term"), lit(1).as("in_vocab"))),
        toks("token") === col("term"), "left").drop("term")
      .join(broadcast(rare.select(col("term"), lit(1).as("in_rare"))),
        toks("token") === col("term"), "left").drop("term")

    val agg = flagged.groupBy("query_id").agg(
      count(lit(1)).cast("int").as("n_tokens"),
      (sum(when(col("token").rlike("[0-9]"), 1.0).otherwise(0.0)) / count(lit(1)))
        .as("digit_ratio"),
      (sum(when(col("in_vocab").isNull, 1.0).otherwise(0.0)) / count(lit(1)))
        .as("oov_ratio"),
      (sum(when(col("in_rare").isNotNull, 1.0).otherwise(0.0)) / count(lit(1)))
        .as("rare_ratio"))

    queries.join(agg, Seq("query_id"), "left")
      .select(col("query_id"), col("query"),
        coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
        coalesce(col("digit_ratio"), lit(0.0)).as("digit_ratio"),
        coalesce(col("oov_ratio"), lit(0.0)).as("oov_ratio"),
        coalesce(col("rare_ratio"), lit(0.0)).as("rare_ratio"))
  }

  /** Heuristic arm scores (router.py:72-92) as columns over a features
    * frame; returns added columns heuristic_{keyword,vector,hybrid}.
    */
  def withHeuristics(features: DataFrame): DataFrame = {
    val hk = lit(1.25) * col("digit_ratio") + lit(1.00) * col("oov_ratio") +
      lit(1.25) * col("rare_ratio") +
      when(col("n_tokens") <= 3, 0.10).otherwise(0.0)
    val hv = lit(0.50) * (lit(1.0) - least(lit(1.0), col("oov_ratio") + col("rare_ratio")))
    val mixedBoost =
      when(col("digit_ratio") >= 0.12 && col("n_tokens") >= 5, 0.45)
        .when(col("digit_ratio") > 0.0 && col("n_tokens") >= 4, 0.25)
        .otherwise(0.0)
    features
      .withColumn("heuristic_keyword", hk)
      .withColumn("heuristic_vector", hv)
      .withColumn("heuristic_hybrid",
        lit(0.45) * col("heuristic_keyword") + lit(0.45) * col("heuristic_vector") +
          lit(0.10) * (lit(1.0) - abs(col("oov_ratio") - col("rare_ratio"))) + mixedBoost)
  }

  /** Arm argmax with the reference's exact precedence (router.py:94-105):
    * hybrid wins any tie it participates in, then keyword over vector.
    */
  def chooseExpr(scoreKeyword: Column, scoreVector: Column, scoreHybrid: Column): Column =
    when(scoreHybrid >= scoreKeyword && scoreHybrid >= scoreVector, "hybrid")
      .when(scoreKeyword >= scoreVector, "keyword")
      .otherwise("vector")

  /** Full routing decision against a frozen state: adds score_* and
    * `strategy` columns.
    */
  def route(features: DataFrame, state: RouterState): DataFrame =
    withHeuristics(features)
      .withColumn("score_keyword", col("heuristic_keyword") + lit(state.weightKeyword))
      .withColumn("score_vector", col("heuristic_vector") + lit(state.weightVector))
      .withColumn("score_hybrid", col("heuristic_hybrid") + lit(state.weightHybrid))
      .withColumn("strategy",
        chooseExpr(col("score_keyword"), col("score_vector"), col("score_hybrid")))

  /** The argmax of [[chooseExpr]] over plain doubles. */
  def choose(scoreKeyword: Double, scoreVector: Double, scoreHybrid: Double): String =
    if (scoreHybrid >= scoreKeyword && scoreHybrid >= scoreVector) "hybrid"
    else if (scoreKeyword >= scoreVector) "keyword"
    else "vector"

  /** Bandit update (router.py:120-163) over one pass's per-query arm
    * totals (vector, keyword, hybrid). Winner = [[choose]]'s `>=`
    * precedence (hybrid, keyword, vector); all-tied → no update; winner
    * gets +lr, each of the 2 losers −lr/2.
    *
    * The deltas do not depend on the current state, so the pass total is
    * a commutative sum (SURVEY.md §3.2): summed once, applied once.
    */
  def update(state: RouterState, totals: Seq[(Double, Double, Double)]): RouterState = {
    var dv, dk, dh = 0.0
    totals.foreach { case (v, k, h) =>
      if (!(v == k && k == h)) {
        val w = choose(k, v, h)
        def d(arm: String) = if (w == arm) state.lr else -state.lr / 2.0
        dv += d("vector"); dk += d("keyword"); dh += d("hybrid")
      }
    }
    state.copy(
      weightVector = state.weightVector + dv,
      weightKeyword = state.weightKeyword + dk,
      weightHybrid = state.weightHybrid + dh)
  }
}
