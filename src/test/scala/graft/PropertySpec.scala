package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.retrieve.Retrievers
import graft.router.{Router, RouterState}

/** Property tests over the operators' algebraic invariants (SURVEY.md §5):
  * top-k stability, min-max normalization range/degenerate cases, bandit
  * delta conservation. Raw scalacheck (no scalatestplus bridge in the
  * offline cache); each property runs 20 Spark-backed cases.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  private val scoreGen: Gen[List[Double]] =
    Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-5.0, 5.0)))

  test("topK: stable — ties broken by ascending doc_idx, ranks contiguous") {
    check(Prop.forAll(scoreGen, Gen.choose(1, 10)) { (scores, k) =>
      val df = scores.zipWithIndex
        .map { case (s, i) => ("q", i.toLong, i.toLong, s) }
        .toDF("query_id", "doc_id", "doc_idx", "score")
      val got = Retrievers.topK(df, k).orderBy("rank").collect()
        .map(r => (r.getAs[Long]("doc_idx"), r.getAs[Double]("score"), r.getAs[Int]("rank")))
      val expected = scores.zipWithIndex.sortBy { case (s, i) => (-s, i) }.take(k)
      got.length == expected.length &&
        got.zip(expected).zipWithIndex.forall {
          case (((gIdx, gScore, rank), (eScore, eIdx)), pos) =>
            gIdx == eIdx.toLong && gScore == eScore && rank == pos + 1
        }
    })
  }

  test("topK: two-stage pruning equals single-window ranking on multi-split input") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Many exact score ties spread across 16 input splits and 2 queries —
    // the shape where stage-1 local pruning could diverge from the global
    // window if its keep-k reasoning were wrong.
    val rows = for (q <- Seq("qa", "qb"); i <- 0 until 200)
      yield (q, i.toLong, i.toLong, (i % 7).toDouble)
    val df = rows.toDF("query_id", "doc_id", "doc_idx", "score").repartition(16)
    val got = Retrievers.topK(df, 10)
      .select("query_id", "doc_idx", "score", "rank").orderBy("query_id", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_idx").asc)
    val want = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("query_id", "doc_idx", "score", "rank").orderBy("query_id", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("minMaxNorm: range [0,1]; constant → zeros; extremes map to 1/0") {
    check(Prop.forAll(scoreGen) { scores =>
      val df = scores.zipWithIndex
        .map { case (s, i) => ("q", i.toLong, i.toLong, s) }
        .toDF("query_id", "doc_id", "doc_idx", "score")
      val got = Retrievers.minMaxNorm(df).orderBy("doc_idx").collect()
        .map(_.getAs[Double]("score"))
      val inRange = got.forall(v => v >= 0.0 && v <= 1.0)
      if (scores.distinct.size == 1) inRange && got.forall(_ == 0.0)
      else inRange &&
        got(scores.indexOf(scores.max)) == 1.0 &&
        got(scores.indexOf(scores.min)) == 0.0
    })
  }

  test("bandit deltas: conserve to zero; all-tied rows contribute nothing") {
    val armGen = for {
      v <- Gen.chooseNum(0.0, 1.0); k <- Gen.chooseNum(0.0, 1.0)
      h <- Gen.chooseNum(0.0, 1.0)
    } yield (v, k, h)
    val tiedGen = Gen.chooseNum(0.0, 1.0).map(x => (x, x, x))
    // Lists of independent draws almost never hold a tied row, so mix
    // tied rows in and draw some all-tied lists outright.
    val rowsGen = Gen.frequency(
      2 -> Gen.listOfN(5, Gen.frequency(1 -> tiedGen, 1 -> armGen)),
      1 -> Gen.listOfN(5, tiedGen))
    val tied: ((Double, Double, Double)) => Boolean = {
      case (v, k, h) => v == k && k == h
    }
    check(Prop.forAll(rowsGen) { rows =>
      val d = Router.update(RouterState(lr = 0.25), rows)
      val total = d.weightVector + d.weightKeyword + d.weightHybrid
      val conserved = math.abs(total) < 1e-9
      // ±0.25 and ±0.125 sum exactly in any order, so dropping the tied
      // rows must give the same state bit for bit.
      conserved && d == Router.update(RouterState(lr = 0.25), rows.filterNot(tied)) &&
        (!rows.forall(tied) ||
          (d.weightVector == 0.0 && d.weightKeyword == 0.0 && d.weightHybrid == 0.0))
    })
  }

  test("qkey: integer micro-score key is exact and order-preserving on the r6 grid") {
    // qkey = floor(r6(q)·10⁶ + 0.5) must recover the r6 numerator exactly
    // (no representation-error off-by-one at any bucket boundary) and
    // order identically to the rounded double — the invariant that makes
    // integer bucket joins/sorts safe substitutes for DOUBLE keys in
    // q75/q78/q82 (ADVICE r6).
    check(Prop.forAll(Gen.listOfN(40, Gen.chooseNum(0.0, 1.0))) { qs =>
      val df = qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("id", "q")
        .select(org.apache.spark.sql.functions.col("id"),
          graft.operators.r6(org.apache.spark.sql.functions.col("q")).as("r6q"))
        .withColumn("qkey",
          graft.operators.TextAnalysisOps.qkeyOf(
            org.apache.spark.sql.functions.col("r6q")))
      val rows = df.collect().map(r => (r.getDouble(1), r.getLong(2)))
      rows.forall { case (r6q, qkey) =>
        qkey == math.floor(r6q * 1e6 + 0.5).toLong && qkey / 1e6 == r6q
      } && rows.sortBy(_._1).map(_._2).sameElements(rows.map(_._2).sorted)
    })
  }
}
