package graft.perfbench

/** Independent plain-Scala scorers the benchmark checks the engine
  * against: BM25 over tokens, sublinear TF-IDF cosine over char 4-grams,
  * their min-max hybrid blend, and an exact cosine scan for ANN recall.
  * Written from the retrieval definitions, not from the engine's plans. */
final case class RefDoc(docId: String, title: String, text: String, docIdx: Long)

final class RefText(docs: IndexedSeq[RefDoc], k1: Double = 1.5, b: Double = 0.75) {
  import RefText._

  private val n = math.max(1, docs.size)
  private def idf(df: Int): Double = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  private val docToks = docs.map(d => tokenize(d.title + " " + d.text))
  private val docTf = docToks.map(ts => ts.groupBy(identity).map { case (t, v) => t -> v.size })
  private val avgDl = {
    val a = docToks.map(_.size).sum.toDouble / n
    if (a == 0.0) 1.0 else a
  }
  val termDf: Map[String, Int] =
    docTf.flatMap(_.keys).groupBy(identity).map { case (t, v) => t -> v.size }

  private val docGramTf = docs.map(d => grams(d.title + " " + d.text).groupBy(identity)
    .map { case (g, v) => g -> v.size })
  private val gramIdf: Map[String, Double] =
    docGramTf.flatMap(_.keys).groupBy(identity).map { case (g, v) => g -> idf(v.size) }
  private val docGramW: IndexedSeq[Map[String, Double]] =
    docGramTf.map(_.map { case (g, tf) => g -> (1.0 + math.log(tf)) * gramIdf(g) })
  private val docNorm = docGramW.map { w =>
    val s = math.sqrt(w.values.map(x => x * x).sum)
    if (s == 0.0) 1.0 else s
  }

  def keyword(q: String): IndexedSeq[Double] = {
    val terms = tokenize(q).distinct.filter(termDf.contains)
    docTf.indices.map { i =>
      val dl = docToks(i).size
      terms.map { t =>
        docTf(i).get(t).map { tf =>
          idf(termDf(t)) * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgDl))
        }.getOrElse(0.0)
      }.sum
    }
  }

  def vector(q: String): IndexedSeq[Double] = {
    val qw = grams(q).groupBy(identity).collect {
      case (g, v) if gramIdf.contains(g) => g -> (1.0 + math.log(v.size)) * gramIdf(g)
    }
    val qn0 = math.sqrt(qw.values.map(x => x * x).sum)
    val qn = if (qn0 == 0.0) 1.0 else qn0
    docGramW.indices.map { i =>
      val dot = qw.iterator.map { case (g, w) => w * docGramW(i).getOrElse(g, 0.0) }.sum
      dot / (qn * docNorm(i))
    }
  }

  def hybrid(q: String): IndexedSeq[Double] = {
    def mm(xs: IndexedSeq[Double]) = {
      val lo = xs.min; val hi = xs.max
      xs.map(x => if (hi <= lo) 0.0 else (x - lo) / (hi - lo))
    }
    mm(keyword(q)).zip(mm(vector(q))).map { case (kk, v) => 0.60 * kk + 0.40 * v }
  }

  def scores(strategy: String, q: String): IndexedSeq[Double] = strategy match {
    case "keyword" => keyword(q)
    case "vector" => vector(q)
    case "hybrid" => hybrid(q)
  }

  /** Stable top-k: score descending, corpus position ascending. */
  def topK(strategy: String, q: String, k: Int): Seq[(String, Double)] = {
    val s = scores(strategy, q)
    docs.indices.sortBy(i => (-s(i), docs(i).docIdx)).take(k).map(i => docs(i).docId -> s(i))
  }

  /** (postings, terms): the summed document frequency of the query's
    * in-vocabulary distinct terms, and how many such terms it has. */
  def postings(q: String): (Double, Double) = {
    val dfs = tokenize(q).distinct.flatMap(termDf.get)
    (dfs.sum.toDouble, dfs.size.toDouble)
  }
}

object RefText {
  private val TokenRe = "[a-z0-9]+(?:[-_][a-z0-9]+)*".r
  private val Ws = "[ \t\n\r\f\u000B]+"

  def tokenize(s: String): IndexedSeq[String] =
    TokenRe.findAllIn(s.toLowerCase).toIndexedSeq

  def grams(s: String, n: Int = 4): IndexedSeq[String] = {
    val t = s.toLowerCase.replaceAll(Ws, " ").replaceAll(s"^$Ws|$Ws$$", "")
    if (t.isEmpty) IndexedSeq.empty
    else if (t.length < n) IndexedSeq(t)
    else (0 to t.length - n).map(i => t.substring(i, i + n))
  }

  /** Engine ranking vs reference ranking, allowing reordering only where
    * reference scores are within `tol` of each other. Returns a failure
    * description, or None when they agree. */
  def compare(got: Seq[(String, Double)], want: Seq[(String, Double)],
      ref: Map[String, Double], tol: Double = 1e-9): Option[String] = {
    if (got.size != want.size) return Some(s"got ${got.size} ids, want ${want.size}")
    got.zip(want).zipWithIndex.collectFirst {
      case (((gid, gs), (wid, ws)), r) if math.abs(gs - ws) > tol * math.max(1.0, math.abs(ws)) =>
        s"rank ${r + 1}: score $gs vs reference $ws"
      case (((gid, _), (wid, ws)), r) if gid != wid &&
          math.abs(ref.getOrElse(gid, Double.NaN) - ws) > tol * math.max(1.0, math.abs(ws)) =>
        s"rank ${r + 1}: id $gid vs reference $wid"
    }
  }
}

object RefAnn {
  /** Exact cosine top-k ids over every indexed vector. */
  def exactTopK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int): Set[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val sims = vecs.indices.map { i =>
      val v = vecs(i)
      var dot = 0.0; var vn = 0.0; var j = 0
      while (j < v.length) { dot += q(j).toDouble * v(j); vn += v(j).toDouble * v(j); j += 1 }
      (dot / (qn * math.sqrt(vn)), ids(i))
    }
    sims.sortBy { case (s, id) => (-s, id) }.take(k).map(_._2).toSet
  }
}
