package graft

import org.apache.spark.sql.functions._

import graft.evalr.Evaluator
import graft.router.{Router, RouterState}
import graft.textops.TextOps

/** 1:1 port of the reference's unit suite
  * (/root/reference/tests/test_router_and_eval.py) onto the Spark build.
  */
class ReferenceUnitSpec extends SparkSpec {
  import spark.implicits._

  private def routeOne(query: String, vocab: Seq[String], rare: Seq[String],
      state: RouterState = RouterState()): String = {
    val q = Seq(("q", query)).toDF("query_id", "query")
    val vocabDf = vocab.toDF("term")
    val rareDf = rare.toDF("term")
    Router.route(Router.features(q, vocabDf, rareDf), state)
      .select("strategy").collect()(0).getString(0)
  }

  test("EM scorer: case/whitespace-insensitive equality (test :10-14)") {
    val df = Seq(("Hello   World", "hello world"), ("x", "y")).toDF("a", "e")
    val got = df.select(
      when(TextOps.emKey(col("a")) === TextOps.emKey(col("e")), 1.0)
        .otherwise(0.0).as("em")).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("router picks keyword for ID-heavy query (test :18-24)") {
    assert(routeOne("Need details on INC-49217 now",
      vocab = Seq("hello", "world"), rare = Seq("inc-49217")) == "keyword")
  }

  test("router picks hybrid for mixed ID+text query (test :26-38)") {
    assert(routeOne("pipeline failed for INC-10010 cache stampede",
      vocab = Seq("pipeline", "failed", "for", "cache", "stampede"),
      rare = Seq("inc-10010")) == "hybrid")
  }

  test("bandit update: 4 keyword wins with lr=0.5 push keyword above both (test :40-53)") {
    var st = RouterState(lr = 0.5)
    (1 to 4).foreach { _ =>
      st = Router.update(st, Seq((0.0, 1.0, 0.25)))
    }
    assert(st.weightKeyword > st.weightVector)
    assert(st.weightKeyword > st.weightHybrid)
    assert(st.weightKeyword == 2.0) // 4 × +0.5
    assert(st.weightVector == -1.0 && st.weightHybrid == -1.0)
  }
}
