package graft.retrieve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.stats.{CorpusIndex, GramIndex, TokenIndex}
import graft.textops.TextOps

/** Batch retrieval scoring: every function takes a (query_id, query) frame
  * and returns a DENSE (query_id, doc_id, doc_idx, score) frame — every doc
  * scored for every query, exactly like the reference's brute-force loops
  * (/root/reference/src/beyond_vector_search/retrievers.py:96-101,128-142).
  *
  * Shape at scale: the query side is tiny (broadcast); scoring is a
  * broadcast hash join of query terms against the long-form inverted index
  * followed by one hash aggregation on (query_id, doc_id) — no driver-side
  * loops, no per-row dictionaries. Densification (docs with score 0 must
  * survive for the positional tie-break) is a left join from the doc list.
  */
object Retrievers {

  val K1 = 1.5
  val B = 0.75
  val AlphaKeyword = 0.60
  val AlphaVector = 0.40

  /** BM25 keyword scores (reference retrievers.py:125-144). Each DISTINCT
    * query term contributes idf * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl));
    * OOV query terms and zero-frequency docs drop out via inner joins.
    */
  def keywordScores(queries: DataFrame, idx: TokenIndex): DataFrame =
    keywordScoresFromTerms(queries,
      queries.select(col("query_id"),
        explode(array_distinct(TextOps.tokenize(col("query")))).as("term")),
      idx)

  /** BM25 from an explicit DISTINCT (query_id, term) frame — the entry
    * point for callers that construct the term set themselves (e.g.
    * pseudo-relevance-feedback expansion). */
  def keywordScoresFromTerms(
      queries: DataFrame, qTerms: DataFrame, idx: TokenIndex): DataFrame = {
    val avgDl = if (idx.avgDl == 0.0) 1.0 else idx.avgDl

    val contrib = broadcast(qTerms)
      .join(idx.termStats.select("term", "idf"), "term")
      .join(idx.docTermFreq, "term")
      .join(idx.docLen.select("doc_id", "dl"), "doc_id")
      .select(col("query_id"), col("doc_id"),
        (col("idf") * (col("tf") * lit(K1 + 1.0)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / lit(avgDl))))
          .as("c"))

    val sparse = contrib.groupBy("query_id", "doc_id").agg(sum(col("c")).as("s"))

    densify(queries, idx.docLen.select("doc_id", "doc_idx"), sparse)
  }

  /** Char-n-gram TF-IDF cosine scores (reference retrievers.py:87-103). */
  def vectorScores(queries: DataFrame, idx: GramIndex): DataFrame = {
    val qVec = queries
      .select(col("query_id"), explode(TextOps.charNgrams(col("query"), idx.n)).as("gram"))
      .groupBy("query_id", "gram")
      .agg(count(lit(1)).cast("int").as("tf"))
      .join(idx.gramStats.select("gram", "idf"), "gram") // drops grams absent from corpus
      .select(col("query_id"), col("gram"),
        CorpusIndex.sublinearTfIdf(col("tf"), col("idf")).as("qw"))

    // Per-query L2 norm with the 0 → 1.0 guard (retrievers.py:95). Computed
    // via join (not window) so no single-partition constraint.
    val qNorm = queries.select("query_id")
      .join(qVec.groupBy("query_id").agg(sqrt(sum(col("qw") * col("qw"))).as("qn0")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        when(col("qn0").isNull || col("qn0") === 0.0, 1.0).otherwise(col("qn0")).as("qnorm"))

    val dot = broadcast(qVec)
      .join(idx.docGramVec, "gram")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qw") * col("w")).as("dot"))

    val sparse = dot
      .join(broadcast(qNorm), "query_id")
      .join(idx.docNorm.select("doc_id", "norm"), "doc_id")
      .select(col("query_id"), col("doc_id"),
        (col("dot") / (col("qnorm") * col("norm"))).as("s"))

    densify(queries, idx.docNorm.select("doc_id", "doc_idx"), sparse)
  }

  /** Hybrid blend (reference retrievers.py:163-188): min-max normalize each
    * dense score set per query (constant array → all zeros), then
    * 0.60*keyword + 0.40*vector.
    */
  def hybridScores(keyword: DataFrame, vector: DataFrame): DataFrame = {
    val kn = minMaxNorm(keyword)
    val vn = minMaxNorm(vector)
    // Both sides are dense over the same (query, doc) grid → inner join.
    kn.withColumnRenamed("score", "kscore")
      .join(vn.withColumnRenamed("score", "vscore").drop("doc_idx"),
        Seq("query_id", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("doc_idx"),
        (lit(AlphaKeyword) * col("kscore") + lit(AlphaVector) * col("vscore")).as("score"))
  }

  /** Per-query min-max normalization; hi<=lo → all zeros
    * (reference retrievers.py:169-176).
    *
    * Single-pass window formulation: a groupBy-stats + self-join would
    * execute the upstream scoring plan twice per use. The window shuffles
    * one query's dense scores to one partition — acceptable because a
    * query's score set is the unit of normalization anyway.
    */
  def minMaxNorm(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
    val lo = min(col("score")).over(w)
    val hi = max(col("score")).over(w)
    scores.select(col("query_id"), col("doc_id"), col("doc_idx"),
      when(hi <= lo, 0.0)
        .otherwise((col("score") - lo) / (hi - lo)).as("score"))
  }

  /** Stable top-k (reference text.py:52-54): score DESC, corpus position ASC.
    * Returns (query_id, doc_id, doc_idx, score, rank). The two-key sort is
    * the determinism contract — near-duplicate docs produce exact ties.
    *
    * Two-stage formulation for finite k: stage 1 keeps each (query, input
    * split)'s local top-k (a row dropped there has ≥ k better rows in its
    * split, so it cannot be in the global top-k — semantics are exactly the
    * single-window ones), spreading the heavy shuffle over query × split
    * partitions; stage 2's per-query window then ranks ≤ k·P surviving
    * rows instead of the full dense score set — no hot partition at any
    * corpus size. k = Int.MaxValue (full-ranking callers, e.g. RRF) skips
    * stage 1: nothing can be pruned, and those callers want the dense
    * ranking the reference contract defines.
    */
  def topK(scores: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_idx").asc)
    val pruned =
      if (k == Int.MaxValue) scores
      else {
        val pw = Window.partitionBy(col("query_id"), col("__split"))
          .orderBy(col("score").desc, col("doc_idx").asc)
        scores.withColumn("__split", spark_partition_id())
          .withColumn("__pr", row_number().over(pw))
          .filter(col("__pr") <= k)
          .drop("__split", "__pr")
      }
    pruned.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Left join sparse per-(query,doc) scores onto the full query × doc grid,
    * missing → 0.0. Keeps every doc present so zero-score ties break by
    * doc_idx exactly as the reference's dense loops do.
    */
  private def densify(queries: DataFrame, docs: DataFrame, sparse: DataFrame): DataFrame =
    queries.select("query_id").crossJoin(docs)
      // sparse holds the matched (query, doc) scores — usually small, but
      // a common-term query can match most of the corpus, so no forced
      // broadcast hint: AQE picks BHJ from runtime stats when the side is
      // actually small and falls back to a shuffle join when it isn't.
      .join(sparse, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("doc_idx"),
        coalesce(col("s"), lit(0.0)).as("score"))
}
