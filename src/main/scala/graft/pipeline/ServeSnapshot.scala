package graft.pipeline

import java.util.concurrent.atomic.AtomicLong
import java.util.regex.Pattern

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.functions.col

import graft.answer.Answer
import graft.evalr.Evaluator
import graft.retrieve.Retrievers
import graft.router.{Router, RouterState}
import graft.textops.TextOps

/** The read-only view of the built indexes that both halves of the loop
  * run on: Spark builds, a plain JVM runtime serves and scores. Collected
  * once from the cached frames of [[Pipeline.Indexes]] (`idf`, `w` and
  * `norm` are taken from the frames, not recomputed), it answers one
  * question per call with no Spark job: features, route, an arm's dense
  * scores, stable top-k, answer, context and evaluation (reference
  * run.py:16-73, evaluate.py:16-116).
  *
  * Each step mirrors the operation order of the column expression it
  * stands for (`Router.features`/`route`, `Retrievers.*`, `Answer.*`,
  * `Evaluator.scores`), so a result is bit-identical to the Spark layers
  * wherever a summation order does not enter: the per-doc sums over
  * several query terms or grams are order-dependent in Spark's hash
  * aggregate too. String lengths and substrings count code points, as
  * Spark's `length`/`substr` do.
  *
  * Documents are held in `doc_idx` order, so a position is the top-k
  * tie-break key. Postings hold (position, value) pairs per term (value =
  * tf) and per gram (value = the built weight `w`).
  */
final class ServeSnapshot private (
    docIds: Array[String],
    titles: Array[String],
    texts: Array[String],
    dl: Array[Int],
    avgDl: Double,
    terms: Map[String, ServeSnapshot.Postings],
    grams: Map[String, ServeSnapshot.Postings],
    norm: Array[Double],
    rare: Set[String],
    gramN: Int) {
  import ServeSnapshot._

  def size: Int = docIds.length
  def docId(pos: Int): String = docIds(pos)

  /** `Router.features` for one query. */
  def features(query: String): Features = {
    val toks = tokenize(query)
    val n = toks.size
    if (n == 0) Features(0, 0.0, 0.0, 0.0)
    else {
      def ratio(p: String => Boolean) = toks.count(p).toDouble / n
      Features(n, ratio(t => Digit.matcher(t).find()), ratio(t => !terms.contains(t)),
        ratio(rare.contains))
    }
  }

  /** `Retrievers.keywordScores` over every doc, by position: BM25 over the
    * query's distinct in-vocabulary terms. */
  def keyword(query: String): Array[Double] = {
    val s = new Array[Double](size)
    for (t <- tokenize(query).distinct; p <- terms.get(t)) {
      var j = 0
      while (j < p.pos.length) {
        val i = p.pos(j); val tf = p.v(j)
        s(i) += p.idf * (tf * (Retrievers.K1 + 1.0)) /
          (tf + Retrievers.K1 * ((1.0 - Retrievers.B) + Retrievers.B * dl(i) / avgDl))
        j += 1
      }
    }
    s
  }

  /** `Retrievers.vectorScores`: sublinear TF-IDF cosine over char n-grams;
    * query grams absent from the corpus drop out. */
  def vector(query: String): Array[Double] = {
    val tf = mutable.LinkedHashMap.empty[String, Int]
    charNgrams(query, gramN).foreach(g => tf(g) = tf.getOrElse(g, 0) + 1)
    val qv = tf.toSeq.flatMap { case (g, c) =>
      grams.get(g).map(p => p -> (1.0 + StrictMath.log(c.toDouble)) * p.idf)
    }
    val qn0 = math.sqrt(qv.map { case (_, w) => w * w }.sum)
    val qnorm = if (qv.isEmpty || qn0 == 0.0) 1.0 else qn0
    val dot = new Array[Double](size)
    for ((p, qw) <- qv) {
      var j = 0
      while (j < p.pos.length) { dot(p.pos(j)) += qw * p.v(j); j += 1 }
    }
    // Norms are positive, so a doc sharing no gram scores 0.0, as densify's.
    dot.indices.foreach(i => dot(i) /= qnorm * norm(i))
    dot
  }

  def hybrid(query: String): Array[Double] = blend(keyword(query), vector(query))

  def scores(strategy: String, query: String): Array[Double] = strategy match {
    case "keyword" => keyword(query)
    case "vector" => vector(query)
    case "hybrid" => hybrid(query)
  }

  /** `Retrievers.topK`: the positions of the k best scores, score desc
    * then position (`doc_idx`) asc. */
  def topK(scores: Array[Double], k: Int): Array[Int] = {
    val top = new Array[Int](math.max(0, math.min(k, scores.length)))
    var filled = 0
    var i = 0
    while (i < scores.length && top.nonEmpty) {
      // Positions arrive ascending, so a later one loses every tie: it
      // enters only with a strictly better score and stops behind equals.
      if (filled < top.length || scores(i) > scores(top(filled - 1))) {
        var j = math.min(filled, top.length - 1)
        while (j > 0 && scores(i) > scores(top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = i
        filled = math.min(filled + 1, top.length)
      }
      i += 1
    }
    top
  }

  /** `Answer.generateAnswers` for the ranked positions. */
  def answer(query: String, top: Array[Int]): String =
    top.headOption.fold(Answer.Fallback) { i =>
      "Based on the retrieved context, here's the best match:\n\n" + titles(i) + "\n" +
        joinTopSentences(texts(i), 2) + "\n\n(Query: " + query + ")"
    }

  /** `Answer.buildContext`: greedy blocks under the character budget,
    * stopping at the first block that does not fit. */
  def context(top: Array[Int], maxChars: Int = Answer.MaxContextChars): String = {
    val blocks = top.map(i => "[" + docIds(i) + "] " + titles(i) + ": " +
      joinTopSentences(texts(i), 2))
    var used = 0
    var n = 0
    while (n < blocks.length && used + cpLen(blocks(n)) <= maxChars) {
      used += cpLen(blocks(n)); n += 1
    }
    blocks.take(n).mkString("\n")
  }

  /** `Evaluator.scores` for one labeled request; a null label field
    * matches nothing. */
  def evaluate(top: Array[Int], answer: String, expectedDocId: String,
      expectedAnswer: String): Evaluation = {
    val hit = if (top.exists(i => docIds(i) == expectedDocId)) 1.0 else 0.0
    val em = if (expectedAnswer != null && emKey(answer) == emKey(expectedAnswer)) 1.0 else 0.0
    Evaluation(hit, em, Evaluator.HitWeight * hit + Evaluator.EmWeight * em)
  }
}

object ServeSnapshot {

  final case class Postings(idf: Double, pos: Array[Int], v: Array[Double])

  final case class Features(nTokens: Int, digitRatio: Double, oovRatio: Double,
      rareRatio: Double)

  final case class Routing(heuristicKeyword: Double, heuristicVector: Double,
      heuristicHybrid: Double, scoreKeyword: Double, scoreVector: Double,
      scoreHybrid: Double, strategy: String)

  final case class Evaluation(hitAtK: Double, exactMatch: Double, total: Double)

  /** Snapshots collected in this JVM; `Indexes.serve` collects one per
    * index set, however many callers race for it. */
  private[graft] val collects = new AtomicLong

  /** Collect a snapshot from the built frames (eight small collects).
    * Throws on a duplicate `doc_id` or a null id, title or text: the Spark
    * build merges or drops such docs, so no snapshot can mirror it. */
  def collect(idx: Pipeline.Indexes): ServeSnapshot = {
    collects.incrementAndGet()
    val docs = idx.docs
      .select(col("doc_id"), col("title"), col("text"), col("doc_idx").cast("long"))
      .collect().sortBy(_.getLong(3))
    docs.find(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)).foreach { r =>
      throw new IllegalArgumentException(
        s"serve snapshot: doc_idx ${r.get(3)} has a null doc_id, title or text")
    }
    val docIds = docs.map(_.getString(0))
    val dups = docIds.groupBy(identity).collect { case (d, v) if v.length > 1 => d }
    require(dups.isEmpty, s"serve snapshot: duplicate doc_id ${dups.toSeq.sorted.mkString(", ")}")
    val posOf = docIds.zipWithIndex.toMap
    def pos(r: Row, i: Int): Int = posOf.getOrElse(r.getString(i),
      throw new IllegalStateException(s"serve snapshot: index row for unknown doc ${r.getString(i)}"))
    def perDoc[T: scala.reflect.ClassTag](rows: Array[Row], v: Row => T): Array[T] = {
      val out = new Array[T](docIds.length)
      val seen = new Array[Boolean](docIds.length)
      rows.foreach { r => val p = pos(r, 0); out(p) = v(r); seen(p) = true }
      seen.indexOf(false) match {
        case -1 => out
        case p => throw new IllegalStateException(s"serve snapshot: no index row for doc ${docIds(p)}")
      }
    }
    /** key → postings sorted by position, from (key, doc_id, value) rows. */
    def postings(idf: Array[Row], rows: Array[Row], value: Row => Double): Map[String, Postings] = {
      val acc = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Double)]]
      rows.foreach(r => acc.getOrElseUpdate(r.getString(0), mutable.ArrayBuffer.empty) += (pos(r, 1) -> value(r)))
      idf.map { r =>
        val ps = acc.getOrElse(r.getString(0), mutable.ArrayBuffer.empty).sortBy(_._1)
        r.getString(0) -> Postings(r.getDouble(1), ps.map(_._1).toArray, ps.map(_._2).toArray)
      }.toMap
    }
    val tok = idx.token
    val gram = idx.gram
    new ServeSnapshot(
      docIds, docs.map(_.getString(1)), docs.map(_.getString(2)),
      perDoc(tok.docLen.select("doc_id", "dl").collect(), _.getInt(1)),
      if (tok.avgDl == 0.0) 1.0 else tok.avgDl,
      postings(tok.termStats.select("term", "idf").collect(),
        tok.docTermFreq.select("term", "doc_id", "tf").collect(), _.getInt(2).toDouble),
      postings(gram.gramStats.select("gram", "idf").collect(),
        gram.docGramVec.select("gram", "doc_id", "w").collect(), _.getDouble(2)),
      perDoc(gram.docNorm.select("doc_id", "norm").collect(), _.getDouble(1)),
      tok.rareTerms.collect().map(_.getString(0)).toSet,
      gram.n)
  }

  /** `Router.route`: heuristics, learned weights, then the argmax with
    * the reference's `>=` precedence (hybrid, keyword, vector). */
  def route(f: Features, state: RouterState): Routing = {
    val hk = 1.25 * f.digitRatio + 1.00 * f.oovRatio + 1.25 * f.rareRatio +
      (if (f.nTokens <= 3) 0.10 else 0.0)
    val hv = 0.50 * (1.0 - math.min(1.0, f.oovRatio + f.rareRatio))
    val mixedBoost =
      if (f.digitRatio >= 0.12 && f.nTokens >= 5) 0.45
      else if (f.digitRatio > 0.0 && f.nTokens >= 4) 0.25
      else 0.0
    val hh = 0.45 * hk + 0.45 * hv + 0.10 * (1.0 - math.abs(f.oovRatio - f.rareRatio)) + mixedBoost
    val sk = hk + state.weightKeyword
    val sv = hv + state.weightVector
    val sh = hh + state.weightHybrid
    Routing(hk, hv, hh, sk, sv, sh, Router.choose(sk, sv, sh))
  }

  /** `Retrievers.hybridScores` of one query's keyword and vector scores:
    * per-arm min-max, then the 0.6/0.4 blend. */
  def blend(keyword: Array[Double], vector: Array[Double]): Array[Double] = {
    val kn = minMaxNorm(keyword); val vn = minMaxNorm(vector)
    Array.tabulate(kn.length)(i => Retrievers.AlphaKeyword * kn(i) + Retrievers.AlphaVector * vn(i))
  }

  // ---- TextOps, term for term over one string ------------------------------

  private val TokenRe = Pattern.compile(TextOps.TokenRegex)
  private val Digit = Pattern.compile("[0-9]")
  private val EdgeWs = Pattern.compile(s"^${TextOps.WsClass}+|${TextOps.WsClass}+$$")
  private val WsRun = Pattern.compile(s"${TextOps.WsClass}+")
  private val SentenceEnd = Pattern.compile(s"[.!?]${TextOps.WsClass}+")
  private val Terminated = Pattern.compile("[.!?]$")

  /** Spark's own `lower` (its ICU case mapping), evaluated without a plan. */
  private def lower(s: String): String = Lower(Literal(s)).eval().toString

  private def strip(s: String): String = EdgeWs.matcher(s).replaceAll("")

  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  private def tokenize(s: String): Vector[String] = {
    val m = TokenRe.matcher(lower(s))
    Iterator.continually(m).takeWhile(_.find()).map(_.group()).toVector
  }

  private def emKey(s: String): String = WsRun.matcher(strip(lower(s))).replaceAll(" ")

  /** `TextOps.charNgrams`: code-point n-grams of the whitespace-normalized
    * string; the whole string when shorter than n. */
  private def charNgrams(s: String, n: Int): Seq[String] = {
    val t = strip(WsRun.matcher(lower(s)).replaceAll(" "))
    val len = cpLen(t)
    if (len == 0) Seq.empty
    else if (len < n) Seq(t)
    else {
      val off = new Array[Int](len + 1)
      (0 until len).foreach(i => off(i + 1) = t.offsetByCodePoints(off(i), 1))
      (0 to len - n).map(i => t.substring(off(i), off(i + n)))
    }
  }

  private def joinTopSentences(s: String, maxSentences: Int): String = {
    val parts = SentenceEnd.split(s, -1).iterator.map(strip).filter(_.nonEmpty).toVector
    val joined = strip(parts.take(maxSentences).mkString(". "))
    if (parts.isEmpty) ""
    else if (Terminated.matcher(joined).find()) joined
    else joined + "."
  }

  private def minMaxNorm(s: Array[Double]): Array[Double] =
    if (s.isEmpty) s
    else {
      val lo = s.min; val hi = s.max
      s.map(x => if (hi <= lo) 0.0 else (x - lo) / (hi - lo))
    }
}
