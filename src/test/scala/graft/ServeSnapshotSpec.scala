package graft

import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.answer.Answer
import graft.evalr.Evaluator
import graft.pipeline.{Pipeline, ServeSnapshot}
import graft.retrieve.Retrievers
import graft.router.{Router, RouterState}
import graft.telemetry.{InMemoryTelemetryStore, ParquetTelemetryStore}

/** The serving snapshot ≡ the Spark layers it replaces on the online path:
  * features, routing, all three arms' top-k, answer, context and
  * evaluation, on the golden labels, a generated panel over the bundled
  * corpus and a panel over the sf0.001 documents; plus `runOnce` under
  * concurrent callers and the snapshot's edge cases.
  */
class ServeSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val K = 5
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Pipeline.loadCorpusJsonl(spark, TestSpark.resource("corpus.jsonl"))
  private lazy val labels = Pipeline.loadLabelsJsonl(spark, TestSpark.resource("labels.jsonl"))
  private lazy val idx = Pipeline.buildIndexes(docs)
  private lazy val sfIdx = Pipeline.buildIndexes(spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id").cast("string").as("doc_id"), col("source").as("title"),
      col("text"), col("doc_id").as("doc_idx")))

  private val states = Seq(RouterState(), RouterState(0.25, -0.125, -0.125),
    RouterState(-0.3, 0.2, 0.1))

  /** Id, fuzzy and natural-language queries drawn from the bundled corpus,
    * plus the edge shapes: all-OOV, shorter than a gram, empty, punctuation
    * only, irregular whitespace and non-ASCII text. */
  private lazy val bundledPanel: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val rows = docs.orderBy("doc_idx").select("title", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ids = rows.flatMap { case (_, t) => "[A-Z]+-[0-9]+".r.findAllIn(t) }.distinct.sorted
    val words = rows.flatMap { case (t, _) => t.split(" ") }.filter(_.length >= 5).distinct.sorted
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    val idQs = (0 until 8).map(i => s"${pick(ids)} ${pick(words).toLowerCase}")
    val fuzzyQs = (0 until 8).map { _ =>
      val w = pick(words); val cut = rnd.nextInt(w.length)
      s"${w.patch(cut, "", 1)} ${1000 + rnd.nextInt(9000)} ${pick(words)}"
    }
    val naturalQs = (0 until 8).map(_ => s"How does ${pick(rows)._1.toLowerCase} work?")
    idQs ++ fuzzyQs ++ naturalQs ++ Seq("zzqx qqzv", "bm", "", "?!", "  What   is\tBM25?  ",
      "Ünïcode İstanbul straße cache 🚀 stampede", "user_id=8841 userid")
  }

  private lazy val sfPanel: Seq[String] = {
    val rnd = new scala.util.Random(11)
    val vocab = spark.read.parquet(s"$sf/documents.parquet").select("text").collect()
      .flatMap(_.getString(0).split(" ")).distinct.sorted.toSeq
    def pick = vocab(rnd.nextInt(vocab.size))
    (1 to 6).map(n => Seq.fill(n)(pick).mkString(" ")) ++
      (0 until 4).map(_ => s"$pick ${rnd.nextInt(10000)} $pick") ++
      (0 until 4).map(_ => s"${pick.drop(1)} ${pick.dropRight(1)}") ++
      (0 until 4).map(_ => s"What is the $pick $pick in $pick?")
  }

  private def queryFrame(qs: Seq[String]): DataFrame =
    qs.zipWithIndex.map { case (q, i) => (f"P-$i%03d", q) }.toDF("query_id", "query")

  private def close(a: Double, b: Double, rel: Double): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  /** Features, heuristics, route scores and decision, exactly. */
  private def assertRouting(ix: Pipeline.Indexes, qdf: DataFrame): Unit = {
    val snap = ix.serve
    val byId = qdf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val feats = Router.features(qdf, ix.token.termStats.select("term"), ix.token.rareTerms)
    states.foreach { st =>
      Router.route(feats, st).collect().foreach { r =>
        val q = byId(r.getAs[String]("query_id"))
        val f = snap.features(q)
        assert(f == ServeSnapshot.Features(r.getAs[Int]("n_tokens"), r.getAs[Double]("digit_ratio"),
          r.getAs[Double]("oov_ratio"), r.getAs[Double]("rare_ratio")), s"features of '$q'")
        val got = ServeSnapshot.route(f, st)
        val want = ServeSnapshot.Routing(r.getAs[Double]("heuristic_keyword"),
          r.getAs[Double]("heuristic_vector"), r.getAs[Double]("heuristic_hybrid"),
          r.getAs[Double]("score_keyword"), r.getAs[Double]("score_vector"),
          r.getAs[Double]("score_hybrid"), r.getAs[String]("strategy"))
        assert(got == want, s"routing of '$q' at $st")
      }
    }
  }

  /** Top-k of every arm against `Retrievers.topK(Pipeline.armScores(..))`;
    * answer, context and evaluation against `Answer`/`Evaluator` over the
    * Spark top-k, against `labelDf`. */
  private def assertArms(ix: Pipeline.Indexes, qdf: DataFrame, labelDf: DataFrame): Unit = {
    val snap = ix.serve
    val posOf = (0 until snap.size).map(i => snap.docId(i) -> i).toMap
    val queries = qdf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val lab = labelDf.collect().map(r => r.getAs[String]("query_id") ->
      (r.getAs[String]("expected_doc_id"), r.getAs[String]("expected_answer"))).toMap
    Seq("keyword", "vector", "hybrid").foreach { arm =>
      val top = Retrievers.topK(Pipeline.armScores(arm, qdf, ix), K)
        .select("query_id", "doc_id", "doc_idx", "score", "rank").collect()
      val sparkTop = top.groupBy(_.getString(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(4)).map(r => r.getString(1) -> r.getDouble(3)).toSeq }
      queries.foreach { case (qid, q) =>
        val s = snap.scores(arm, q)
        val got = snap.topK(s, K).toSeq.map(i => snap.docId(i) -> s(i))
        val want = sparkTop(qid)
        assert(got.size == want.size, s"$arm '$q': ${got.size} ids vs ${want.size}")
        got.zip(want).foreach { case ((gid, gs), (wid, ws)) =>
          assert(close(gs, ws, 1e-12), s"$arm '$q': score $gs vs $ws")
          assert(gid == wid || math.abs(s(posOf(wid)) - gs) <= 1e-9,
            s"$arm '$q': id $gid vs $wid without a tie")
        }
      }

      val topLocal = spark.createDataFrame(top.toSeq.asJava, StructType(Seq(
        StructField("query_id", StringType), StructField("doc_id", StringType),
        StructField("doc_idx", LongType), StructField("score", DoubleType),
        StructField("rank", IntegerType))))
      val topDocs = topLocal.join(ix.docs.select("doc_id", "title", "text"), "doc_id")
      val answers = Answer.generateAnswers(qdf, topDocs).select("query_id", "answer").collect()
      val answerDf = spark.createDataFrame(answers.toSeq.asJava, StructType(Seq(
        StructField("query_id", StringType), StructField("answer", StringType))))
      val contexts = Answer.buildContext(topDocs).collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val evals = Evaluator.scores(topLocal, answerDf, labelDf).collect()
        .map(r => r.getAs[String]("query_id") -> ServeSnapshot.Evaluation(r.getAs[Double]("hit_at_k"),
          r.getAs[Double]("exact_match"), r.getAs[Double]("total"))).toMap
      answers.foreach { r =>
        val qid = r.getString(0)
        val pos = sparkTop(qid).map(t => posOf(t._1)).toArray
        assert(snap.answer(queries(qid), pos) == r.getString(1), s"$arm answer of '${queries(qid)}'")
        assert(snap.context(pos) == contexts(qid), s"$arm context of '${queries(qid)}'")
        val (expDoc, expAns) = lab(qid)
        assert(snap.evaluate(pos, r.getString(1), expDoc, expAns) == evals(qid),
          s"$arm evaluation of '${queries(qid)}'")
      }
    }
  }

  /** Labels that hit and miss both halves of the score: even queries expect
    * the keyword top-1 and a case/whitespace variant of its answer. */
  private def panelLabels(ix: Pipeline.Indexes, qdf: DataFrame): DataFrame = {
    val snap = ix.serve
    qdf.collect().toSeq.zipWithIndex.map { case (r, i) =>
      val q = r.getString(1)
      val top = snap.topK(snap.keyword(q), K)
      if (i % 2 == 0) (r.getString(0), snap.docId(top(0)),
        "  " + snap.answer(q, top).toUpperCase.replace(" ", " \t "))
      else (r.getString(0), "no-such-doc", "no such answer")
    }.toDF("query_id", "expected_doc_id", "expected_answer")
  }

  test("golden labels: snapshot features, routing, top-k, answers and evaluation ≡ Spark") {
    val qdf = labels.select("query_id", "query")
    assertRouting(idx, qdf)
    assertArms(idx, qdf, labels)
  }

  test("generated panel over the bundled corpus: snapshot ≡ Spark on every arm") {
    val qdf = queryFrame(bundledPanel)
    assertRouting(idx, qdf)
    assertArms(idx, qdf, panelLabels(idx, qdf))
  }

  test("sf0.001 documents panel: snapshot ≡ Spark on every arm") {
    val qdf = queryFrame(sfPanel)
    assertRouting(sfIdx, qdf)
    assertArms(sfIdx, qdf, panelLabels(sfIdx, qdf))
  }

  test("runOnce ≡ the Spark layers for every golden query; one run row each") {
    val store = new InMemoryTelemetryStore
    val snap = idx.serve
    labels.select("query_id", "query").collect().foreach { lr =>
      val q = lr.getString(1)
      val qdf = Seq(("q", q)).toDF("query_id", "query")
      val strategy = Router.route(Router.features(qdf, idx.token.termStats.select("term"),
        idx.token.rareTerms), RouterState()).select("strategy").collect()(0).getString(0)
      val out = Pipeline.runOnce(spark, idx, labels, store, q, K)
      assert(out.schema == Pipeline.resultSchema)
      val r = out.collect().single
      assert(r.getAs[String]("query") == q && r.getAs[String]("strategy") == strategy)
      val top = r.getAs[scala.collection.Seq[Row]]("top_k").map(t => t.getString(0) -> t.getDouble(1))
      val want = Retrievers.topK(Pipeline.armScores(strategy, qdf, idx), K)
        .orderBy("rank").select("doc_id", "score").collect().map(t => t.getString(0) -> t.getDouble(1))
      assert(top.map(_._1) == want.map(_._1).toSeq, s"'$q' top-k ids")
      top.zip(want).foreach { case ((_, g), (_, w)) => assert(close(g, w, 1e-12), s"'$q' score") }
      val pos = top.map(t => (0 until snap.size).find(snap.docId(_) == t._1).get).toArray
      assert(r.getAs[String]("answer") == snap.answer(q, pos))
      assert(r.getAs[String]("context") == snap.context(pos))
      val golden = if (lr.getString(0) == "Q-012") 0.7 else 1.0
      assert(r.getAs[Double]("score") == golden, s"'$q' scored ${r.getAs[Double]("score")}")
    }
    val logged = store.runFrames
    assert(logged.size == 14 && logged.forall(_.count() == 1))
    assert(logged.head.columns.toSeq == Seq("ts_unix", "query", "strategy", "score", "meta_json"))
    assert(logged.head.select("meta_json").collect()(0).getString(0).startsWith("""{"k":5,"top_doc_ids":["DOC-"""))
  }

  test("edge: an all-OOV query scores 0 everywhere and fills top-k in doc_idx order") {
    val snap = idx.serve
    Seq("keyword", "vector", "hybrid").foreach { arm =>
      val s = snap.scores(arm, "zzqx qqzv")
      assert(s.forall(_ == 0.0), arm)
      assert(snap.topK(s, K).toSeq == (0 until K), arm)
    }
    assert(snap.features("zzqx qqzv") == ServeSnapshot.Features(2, 0.0, 1.0, 0.0))
  }

  test("edge: an empty corpus answers with the fallback row, score 0 and an empty top-k") {
    val empty = Pipeline.buildIndexes(spark.createDataFrame(
      java.util.List.of[Row](), Pipeline.docSchema).withColumn("doc_idx", lit(0L)))
    val store = new InMemoryTelemetryStore
    val r = Pipeline.runOnce(spark, empty, labels, store, "anything at all", K).collect().single
    assert(r.getAs[String]("answer") == Answer.Fallback)
    assert(r.getAs[Double]("score") == 0.0)
    assert(r.getAs[scala.collection.Seq[Row]]("top_k").isEmpty)
    assert(r.getAs[String]("context") == "")
    assert(store.runFrames.map(_.count()).sum == 1)
  }

  test("InMemoryTelemetryStore keeps the log-time ts_unix: two reads of a logged " +
    "row with a pause between them agree") {
    val store = new InMemoryTelemetryStore
    Pipeline.runOnce(spark, idx, labels, store, "anything at all", K).collect()
    assert(store.runFrames.size == 1)
    def tsUnix: Double = store.runFrames.head.select("ts_unix").collect().single.getDouble(0)
    val first = tsUnix
    Thread.sleep(1500)
    assert(tsUnix == first, "ts_unix re-evaluated at read time")
  }

  test("edge: a duplicate doc_id fails the snapshot loudly") {
    val dup = Seq(("D-1", "t", "one.", 0L), ("D-2", "t", "two.", 1L), ("D-1", "t", "three.", 2L))
      .toDF("doc_id", "title", "text", "doc_idx")
    val e = intercept[IllegalArgumentException](Pipeline.buildIndexes(dup).serve)
    assert(e.getMessage.contains("duplicate doc_id D-1"))
  }

  test("runOnce under 4 concurrent callers: serial answers, one run row per request, " +
    "one snapshot, no cached blocks left") {
    val ix = Pipeline.buildIndexes(docs)
    ix.docs.count(); ix.token.docTermFreq.count(); ix.token.termStats.count()
    ix.token.docLen.count(); ix.gram.docGramVec.count(); ix.gram.gramStats.count()
    ix.gram.docNorm.count()
    val heldBefore = spark.sparkContext.getPersistentRDDs.keySet
    val collectsBefore = ServeSnapshot.collects.get
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-conc").toString
    val store = new ParquetTelemetryStore(spark, dir)
    val qs = Seq("What is BM25 used for?", "INC-49217 details", "What is a bandit in routing?",
      "How does adaptive retrieval routing work?", "userid 8841 cache", "bm")
    def rowOf(q: String): Row = Pipeline.runOnce(spark, ix, labels, store, q, K).collect().single

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val concurrent = try {
      Await.result(Future.sequence((0 until 4).map { t =>
        Future(qs.indices.map(i => qs((i + t) % qs.size)).map(q => q -> rowOf(q)))
      }), Duration(10, TimeUnit.MINUTES)).flatten
    } finally pool.shutdown()
    val serial = qs.map(q => q -> rowOf(q)).toMap

    concurrent.foreach { case (q, r) => assert(r == serial(q), s"'$q' concurrent != serial") }
    assert(ServeSnapshot.collects.get - collectsBefore == 1)
    assert(spark.read.parquet(s"$dir/runs").count() == concurrent.size + serial.size)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- heldBefore).isEmpty)
  }

  // ---- evaluateAll over the snapshot ---------------------------------------

  /** One pass's run rows as `{pass, query, strategy, score, meta_json}` JSON
    * lines (no `ts_unix`), in query_id order. */
  private def runLines(store: InMemoryTelemetryStore, pass: Int): Seq[String] =
    store.runFrames.last
      .select(get_json_object(col("meta_json"), "$.query_id"),
        to_json(struct(lit(pass).as("pass"), col("query"), col("strategy"), col("score"),
          col("meta_json"))))
      .collect().sortBy(_.getString(0)).map(_.getString(1)).toSeq

  private def armColumns(out: Pipeline.EvalOutcome, metric: String): Seq[Double] =
    out.perQuery.select(Seq("vector", "keyword", "hybrid").map(a => col(s"${a}_$metric")): _*)
      .collect().toSeq.flatMap(r => (0 until 3).map(r.getDouble))

  /** A run line with its three `top_doc_ids` arrays cut out, its query,
    * and those arrays in vector, keyword, hybrid order. */
  private def splitTopIds(lines: Seq[String]): Seq[(String, String, Seq[Seq[String]])] = {
    val meta = from_json(col("l"), StructType(Seq(StructField("meta_json", StringType))))
      .getField("meta_json")
    lines.toDF("l").select(col("l"),
      regexp_replace(col("l"), """\\"top_doc_ids\\":\[[^\]]*\]""", ""),
      get_json_object(col("l"), "$.query"),
      array(Seq("vector", "keyword", "hybrid").map(a =>
        from_json(get_json_object(meta, s"$$.$a.top_doc_ids"), ArrayType(StringType))): _*))
      .collect().toSeq.map(r =>
        (r.getString(1), r.getString(2), r.getSeq[scala.collection.Seq[String]](3).map(_.toSeq)))
  }

  test("evaluateAll passes 1 and 2 write the parent's Spark-plan run rows (features, " +
    "route_meta, per-arm totals and top-k ids) and leave no persisted RDD behind") {
    val snap = idx.serve
    val heldBefore = spark.sparkContext.getPersistentRDDs.size
    val store = new InMemoryTelemetryStore
    val got = (1 to 2).flatMap { pass =>
      Pipeline.evaluateAll(spark, idx, labels, store, K)
      runLines(store, pass)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == heldBefore)

    val src = scala.io.Source.fromFile(TestSpark.resource("eval_runs.jsonl"), "UTF-8")
    val want = try src.getLines().toVector finally src.close()
    assert(got.size == want.size)
    val posOf = (0 until snap.size).map(i => snap.docId(i) -> i).toMap
    splitTopIds(got).zip(splitTopIds(want)).foreach {
      case ((gRest, q, gIds), (wRest, _, wIds)) =>
        // Byte-identical, except that the Spark plan ordered docs whose
        // scores differ by an ulp of summation order (the templated
        // DOC-020..DOC-027) by its partition-wise sums.
        assert(gRest == wRest)
        Seq("vector", "keyword", "hybrid").zip(gIds.zip(wIds)).foreach { case (arm, (g, w)) =>
          val s = snap.scores(arm, q)
          assert(g.size == w.size, s"$arm '$q'")
          g.zip(w).foreach { case (gi, wi) =>
            assert(gi == wi || math.abs(s(posOf(gi)) - s(posOf(wi))) <= 1e-9,
              s"$arm '$q': id $gi vs $wi without a tie")
          }
        }
    }
  }

  test("evaluateAll edge: zero labels give mean 0, unchanged weights and no run rows") {
    val st = RouterState(0.1, -0.2, 0.3)
    val store = new InMemoryTelemetryStore
    store.saveRouterState(st)
    val out = Pipeline.evaluateAll(spark, idx, labels.filter(lit(false)), store, K)
    assert(out.meanScore == 0.0)
    assert(out.state == st && store.loadRouterState() == st)
    assert(out.perQuery.count() == 0)
    assert(store.runFrames.map(_.count()).sum == 0)
  }

  test("evaluateAll edge: an empty corpus answers with the fallback, scores 0 on every " +
    "arm and leaves the weights unchanged") {
    val empty = Pipeline.buildIndexes(spark.createDataFrame(
      java.util.List.of[Row](), Pipeline.docSchema).withColumn("doc_idx", lit(0L)))
    val fallback = Seq(("Q-FB", "What is BM25 used for?", "DOC-001", Answer.Fallback))
      .toDF("query_id", "query", "expected_doc_id", "expected_answer")
    val store = new InMemoryTelemetryStore
    val out = Pipeline.evaluateAll(spark, empty, labels.unionByName(fallback), store, K)
    val rows = out.perQuery.collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      val em = if (r.getAs[String]("query_id") == "Q-FB") 1.0 else 0.0
      Seq("vector", "keyword", "hybrid").foreach { a =>
        assert(r.getAs[Double](s"${a}_hit") == 0.0)
        assert(r.getAs[Double](s"${a}_em") == em, s"${r.getAs[String]("query_id")} $a")
        assert(r.getAs[Double](s"${a}_total") == Evaluator.EmWeight * em)
        assert(r.getAs[scala.collection.Seq[String]](s"${a}_top_doc_ids").isEmpty)
      }
    }
    assert(out.meanScore == Evaluator.EmWeight / 15)
    assert(out.state == RouterState())
    assert(store.runFrames.map(_.count()).sum == 15)
  }

  test("evaluateAll edge: an expected doc absent from the corpus and a null expected " +
    "answer score hit 0 and EM 0") {
    val q = "What is BM25 used for?"
    val odd = Seq[(String, String, String, String)](("X-1", q, "NO-SUCH-DOC", "no such answer"),
      ("X-2", q, null, null)).toDF("query_id", "query", "expected_doc_id", "expected_answer")
    val store = new InMemoryTelemetryStore
    val out = Pipeline.evaluateAll(spark, idx, odd, store, K)
    assert(armColumns(out, "hit").forall(_ == 0.0))
    assert(armColumns(out, "em").forall(_ == 0.0))
    assert(out.meanScore == 0.0)
    assert(out.state == RouterState())
    assert(store.runFrames.map(_.count()).sum == 2)
  }

  private implicit class Single(rows: Array[Row]) {
    def single: Row = { assert(rows.length == 1, s"${rows.length} rows"); rows(0) }
  }
}
