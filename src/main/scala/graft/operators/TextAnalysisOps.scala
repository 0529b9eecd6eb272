package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.textops.TextOps

/** Text-analysis operators for a training-data pipeline over `documents`:
  * quality scoring, token counting (whitespace / word-regex / BPE-ish),
  * n-gram-profile language ID, rolling-hash + MD5 fingerprinting, and
  * tf-weighted SimHash.
  *
  * Everything is row-local column arithmetic (whole-stage codegen) except
  * the language profiles (a tiny per-language top-k aggregate, broadcast
  * back) — the shape that survives a 100 TB corpus: one pass over the
  * documents, no driver collects.
  */
object TextAnalysisOps {

  val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "for", "on", "at")
  val ProfileSize = 20
  val SimhashBits = 60
  val RollMod = 2147483647L // 2^31 - 1

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private val TokRe = "[a-z0-9]+(?:[-_][a-z0-9]+)*"
  // Negated class spells out Java's \s (TextOps.WsChars) so RE2 agrees.
  private val BpeRe = s"[a-z]+|[0-9]|[^a-z0-9${TextOps.WsChars}]"

  // ---- q30: per-document quality scores -----------------------------------

  /** Unrounded quality derivation shared by q30 and the q91 classifier so
    * the two can't drift — the Column twin of qualityCtes' `qual`:
    * (doc_id, n_tokens, atl, sr, dr, quality_score[r6]). Memoized per
    * (appId, dir) since r19: ONE row per doc, 6 narrow columns (the
    * docLen storage class), yet every quality/LR consumer — q30, q78,
    * q147's budget twin, the whole lrRaw family (q91, q94, q95, q96,
    * q108, q132), q75 keep-best, q117 caps — re-tokenized the corpus
    * (3 regex passes per doc) per invocation to rebuild it. */
  private val qualityCache = Memo.frame()

  private def qualityFrame(spark: SparkSession, dir: String): DataFrame =
    qualityCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$dir",
      qualityFrameOf(docs(spark, dir)).cache())

  /** [[qualityFrame]] over ANY (doc_id, text) frame — row-local
    * projections only, so it plans identically on a batch table or a
    * stream (the streaming quality gate rides this same derivation). */
  private[graft] def qualityFrameOf(d: DataFrame): DataFrame = {
    val toks = TextOps.tokenize(col("text"))
    val n = size(toks)
    val nD = n.cast("double")
    val avgTokLen = when(n === 0, 0.0)
      .otherwise(length(array_join(toks, "")).cast("double") / nD)
    val stopRatio = when(n === 0, 0.0)
      .otherwise(size(filter(toks, t => t.isInCollection(Stopwords))).cast("double") / nD)
    val digitRatio = when(length(col("text")) === 0, 0.0)
      .otherwise(length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
        length(col("text")).cast("double"))
    val quality = lit(0.4) * least(lit(1.0), nD / 50.0) +
      lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.3) * least(lit(1.0), avgTokLen / 8.0)
    d.select(
      col("doc_id"),
      n.cast("long").as("n_tokens"),
      avgTokLen.as("atl"),
      stopRatio.as("sr"),
      digitRatio.as("dr"),
      r6(quality).as("quality_score"))
  }

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(spark, dir).select(
      col("doc_id"),
      col("n_tokens"),
      r6(col("atl")).as("avg_token_len"),
      r6(col("sr")).as("stopword_ratio"),
      r6(col("dr")).as("digit_char_ratio"),
      col("quality_score"))
      .orderBy("doc_id")

  private val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Shared q30 quality derivation ending in qual(doc_id, n_tokens, atl,
    * sr, dr, quality_score) — reused by q75's keep-best-per-cluster oracle
    * so the two can't drift. */
  private[operators] val qualityCtes: String =
    s"""qb AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$TokRe') AS t, text
       |  FROM documents),
       |qm AS (
       |  SELECT doc_id,
       |    len(t) AS n_tokens,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE length(array_to_string(t, ''))::DOUBLE / len(t) END AS atl,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE len(list_filter(t, x -> list_contains($stopList, x)))::DOUBLE / len(t)
       |    END AS sr,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)
       |    END AS dr
       |  FROM qb),
       |qual AS (
       |  SELECT doc_id, n_tokens, atl, sr, dr,
       |    floor((0.4 * least(1.0, n_tokens / 50.0) + 0.3 * (1.0 - sr) +
       |          0.3 * least(1.0, atl / 8.0)) * 1000000 + 0.5) / 1000000 AS quality_score
       |  FROM qm)""".stripMargin

  val textQualitySql: String =
    s"""WITH $qualityCtes
       |SELECT doc_id, n_tokens, floor((atl) * 1000000 + 0.5) / 1000000 AS avg_token_len,
       |  floor((sr) * 1000000 + 0.5) / 1000000 AS stopword_ratio, floor((dr) * 1000000 + 0.5) / 1000000 AS digit_char_ratio,
       |  quality_score
       |FROM qual ORDER BY doc_id""".stripMargin

  // ---- q31: token counting (three tokenizers) -----------------------------

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      size(TextOps.tokenize(col("text"))).cast("long").as("n_word_tokens"),
      when(length(TextOps.strip(col("text"))) === 0, 0L)
        .otherwise(size(split(TextOps.strip(col("text")), s"${TextOps.WsClass}+")).cast("long"))
        .as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(BpeRe), lit(0))).cast("long")
        .as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(lower(text), '$TokRe')) AS n_word_tokens,
       |  CASE WHEN length(regexp_replace(text, '^${TextOps.WsClass}+|${TextOps.WsClass}+$$', '', 'g')) = 0 THEN 0
       |       ELSE len(str_split_regex(regexp_replace(text, '^${TextOps.WsClass}+|${TextOps.WsClass}+$$', '', 'g'), '${TextOps.WsClass}+'))
       |  END AS n_ws_tokens,
       |  len(regexp_extract_all(lower(text), '$BpeRe')) AS n_bpe_tokens,
       |  length(text) AS n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q32: per-language corpus stats -------------------------------------

  def langStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokenize(col("text")))).cast("long").as("total_tokens"),
        r6(sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct("source").as("n_sources"))
      .orderBy("lang")

  val langStatsSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(lower(text), '$TokRe'))) AS BIGINT) AS total_tokens,
       |  floor((CAST(sum(length(text)) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_chars,
       |  count(DISTINCT source) AS n_sources
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q33: n-gram-profile language ID ------------------------------------

  /** (appId, dir)-memoized (doc_id, lang, trigram) frame — the shared build
    * behind langId; the memo (same pattern as DedupOps.shingleCache) keeps
    * repeated calls from stacking fresh cached frames. */
  private val triCache = Memo.frame()

  private def langTrigrams(spark: SparkSession, dir: String): DataFrame =
    triCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$dir", {
      val d = docs(spark, dir)
      graft.stats.GramIndex.explodedNgrams(
          d.select(col("doc_id"), col("doc_id").as("doc_idx"), col("text")), col("text"), 3)
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("gram").as("g"))
        .cache()
    })

  /** The per-language top-[[ProfileSize]] trigram profiles — the q33
    * classifier's model (|langs|·ProfileSize rows). NOT memoized: r18
    * memoized this (eager localCheckpoint) plus a corpus-scale distinct
    * doc-trigram frame, and the driver's full bench said both q33 and
    * q122 got SLOWER (0.85×/0.61×) while the pinned frames fed the
    * 32-thread pressure regression (VERDICT r18 #7) — the training
    * aggregate over the cached [[langTrigrams]] is one map-side-combined
    * pass and cheaper than the storage it displaced. */
  private def langProfiles(spark: SparkSession, dir: String): DataFrame =
    langTrigrams(spark, dir).groupBy("lang", "g").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("g").asc)))
      .filter(col("rn") <= ProfileSize)
      .select(col("lang").as("p_lang"), col("g"))

  /** (appId, dir)-memoized max-score rows (doc_id, p_lang, score, mscore)
    * — ≥1 row per doc that matched any profile, |langs|-bounded per doc
    * (the docLen storage class), shared by q33 and q122: each used to
    * re-run the corpus-scale (doc_id, g) DISTINCT exchange + profile
    * join + argmax per invocation, the single most expensive exchange
    * left in the text family. This is the bounded memo shape — NOT the
    * corpus-scale trigram frames r18 pinned and the driver bench
    * rejected (VERDICT r18 #7). */
  private val langBestCache = Memo.frame()

  private def langBest(spark: SparkSession, dir: String): DataFrame =
    langBestCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$dir", {
      val profiles = langProfiles(spark, dir)

      // Dedup the (doc_id, g) membership BEFORE the profile join: profile
      // grams are by construction the corpus's most COMMON trigrams, so
      // joining occurrences first multiplies most of the corpus by the
      // number of languages sharing each gram (measured r19: join-first
      // was ~0.5 s slower at sf0.1).
      val scores = langTrigrams(spark, dir).select("doc_id", "g").distinct()
        .join(broadcast(profiles), "g")
        .groupBy("doc_id", "p_lang").agg(count(lit(1)).as("score"))

      // Argmax via max-score + lowest-lang-at-max — two hash aggregates
      // and a tiny join instead of a rank window. Exact ties break on
      // p_lang ASC like the window did (integers and a string compare, no
      // doubles near the decision). The memo stops at the max-score ROWS
      // (≥1 per doc under ties); the final per-doc groupBy runs OUTSIDE
      // the cache at each call site so the optimizer still sees an
      // Aggregate keyed by doc_id and count-only plans keep PROVING
      // per-doc uniqueness (and dropping q33's left join) — an aggregate
      // hidden behind an InMemoryRelation proves nothing.
      val ms = scores.groupBy("doc_id").agg(max(col("score")).as("mscore"))
      scores.join(ms, "doc_id")
        .filter(col("score") === col("mscore"))
        .cache()
    })

  /** Classify each document against per-language top-k character-trigram
    * profiles learned from the corpus itself: score = |doc ∩ profile|,
    * argmax with (score DESC, lang ASC) tie-break. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val best = langBest(spark, dir)
      .groupBy("doc_id")
      .agg(min(col("p_lang")).as("predicted_lang"), max(col("mscore")).as("score"))

    d.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("predicted_lang"), lit("und")).as("predicted_lang"),
        coalesce(col("score"), lit(0L)).as("score"),
        col("lang").as("actual_lang"),
        (coalesce(col("predicted_lang"), lit("und")) === col("lang")).as("correct"))
      .orderBy("doc_id")
  }

  /** Shared q33 derivation CTEs ending in best(doc_id, predicted_lang,
    * score) — reused by the q122 confusion-matrix oracle so the two
    * cannot drift. */
  private val langIdCtes: String =
    s"""src AS (
       |  SELECT doc_id, lang,
       |    trim(regexp_replace(lower(text), '${TextOps.WsClass}+', ' ', 'g')) AS s
       |  FROM documents),
       |tri AS (
       |  SELECT doc_id, lang, unnest(
       |    CASE WHEN length(s) = 0 THEN CAST([] AS VARCHAR[])
       |         WHEN length(s) < 3 THEN [s]
       |         ELSE [substring(s, i, 3) FOR i IN range(1, length(s) - 1)] END) AS g
       |  FROM src),
       |prof AS (
       |  SELECT lang AS p_lang, g FROM (
       |    SELECT lang, g, row_number() OVER (PARTITION BY lang
       |      ORDER BY count(*) DESC, g ASC) AS rn
       |    FROM tri GROUP BY lang, g)
       |  WHERE rn <= $ProfileSize),
       |dt AS (SELECT DISTINCT doc_id, g FROM tri),
       |sc AS (SELECT doc_id, p_lang, count(*) AS score
       |       FROM dt JOIN prof USING (g) GROUP BY doc_id, p_lang),
       |best AS (
       |  SELECT doc_id, p_lang AS predicted_lang, score FROM (
       |    SELECT doc_id, p_lang, score, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, p_lang ASC) AS rn FROM sc)
       |  WHERE rn = 1)""".stripMargin

  val langIdSql: String =
    s"""WITH $langIdCtes
       |SELECT d.doc_id, coalesce(predicted_lang, 'und') AS predicted_lang,
       |  coalesce(score, 0) AS score, d.lang AS actual_lang,
       |  (coalesce(predicted_lang, 'und') = d.lang) AS correct
       |FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- q122: language-ID confusion matrix ---------------------------------

  /** q122: the confusion matrix of the q33 heuristic language classifier
    * against the labeled lang column — per (actual, predicted) pair the
    * document count and the row-normalized rate (the diagonal is
    * per-language recall). THE evaluation a pipeline runs before
    * trusting lang-ID to drive the q46 mixture or per-language filters:
    * confusion between sibling languages tells you which mixture cells
    * are leaking into each other. One metadata-scale regrouping of q33's
    * verdict frame (|langs|² rows, row totals broadcast back). */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cm = langId(spark, dir)
      .groupBy("actual_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
    // r19: row totals via a window over the |langs|² matrix — the old
    // cm ⋈ cm-rollup self-join planned the whole langId subtree twice
    // (classifier trained and applied twice per invocation). Same exact
    // longs, one derivation.
    cm.withColumn("tot",
        sum(col("n_docs")).over(Window.partitionBy("actual_lang")))
      .select(col("actual_lang"), col("predicted_lang"), col("n_docs"),
        r6(col("n_docs").cast("double") / col("tot").cast("double")).as("frac"))
      .orderBy("actual_lang", "predicted_lang")
  }

  val langConfusionSql: String =
    s"""WITH $langIdCtes,
       |cv AS (SELECT d.lang AS actual_lang,
       |         coalesce(predicted_lang, 'und') AS predicted_lang
       |       FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id),
       |cmx AS (SELECT actual_lang, predicted_lang, count(*) AS n_docs
       |        FROM cv GROUP BY 1, 2),
       |crt AS (SELECT actual_lang, CAST(sum(n_docs) AS BIGINT) AS tot
       |        FROM cmx GROUP BY 1)
       |SELECT actual_lang, predicted_lang, n_docs,
       |  floor((n_docs::DOUBLE / tot) * 1000000 + 0.5) / 1000000 AS frac
       |FROM cmx JOIN crt USING (actual_lang)
       |ORDER BY actual_lang, predicted_lang""".stripMargin

  // ---- q34: document fingerprints (md5 + polynomial rolling hash) ---------

  /** Chars per exploded block of the blockwise rolling hash. */
  val RollBlock = 16
  /** Exponent bits the unrolled modpow covers. 31 is provably exhaustive:
    * the exponent e = len − j·B − k is bounded by len = length(s), whose
    * Spark type is INT — so e ≤ 2^31 − 1 always, and bits 0..30 cover
    * every representable document length. No silent-truncation regime
    * exists (a 30-bit cover would hash docs past 2^30 chars differently
    * from the reference per-char Horner fold with no error). */
  private val RollPowBits = 31
  /** rollPow2(i) = 31^(2^i) mod RollMod — literal constants for the
    * unrolled square-and-multiply weight below. */
  private val rollPow2: Array[Long] =
    Iterator.iterate(31L % RollMod)(p => (BigInt(p) * p % RollMod).toLong)
      .take(RollPowBits).toArray

  /** Content fingerprints: md5 plus the polynomial rolling hash
    * H = Σ_i c_i · 31^(len−1−i) mod (2^31−1) over the EM-normalized text.
    *
    * Scale note (VERDICT r5 #4): the original form folded an interpreted
    * `aggregate` lambda over every character of every document — correct,
    * but a 10–70× constant-factor killer on a full-corpus path (SCALE.md).
    * This version keeps the hash bit-identical while staying inside
    * whole-stage codegen end to end, using the block decomposition
    * H = Σ_j V_j · 31^(e_j) mod M, where block j holds chars
    * [j·B, j·B+k_j): V_j is the block's own Horner hash (unrolled to B
    * guarded scalar steps — no lambda), e_j = len − j·B − k_j is the
    * suffix length after the block, and 31^(e_j) mod M unrolls into
    * RollPowBits square-and-multiply steps against the precomputed
    * rollPow2 constants (modpow with a constant base needs no loop).
    * Per-block contributions then sum with an ordinary map-side-partial
    * `sum` — the shuffle carries one long per (doc, block/16-chars). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val s = TextOps.emKey(col("text"))
    val base = docs(spark, dir)
      .select(col("doc_id"), s.as("s"), md5(s).as("md5_fp"), length(s).as("len"))

    val blocks = base.filter(col("len") > 0)
      .select(col("doc_id"), col("s"), col("len"),
        explode(sequence(lit(0), expr(s"CAST((len - 1) DIV $RollBlock AS INT)")))
          .as("j"))
      .select(col("doc_id"), col("len"), col("j"),
        col("s").substr(col("j") * RollBlock + 1, lit(RollBlock)).as("block"))
      .withColumn("k", length(col("block")))

    // Unrolled Horner over the block's (at most RollBlock) chars. The
    // accumulator must appear exactly ONCE per level: a
    // `when(c, f(acc)).otherwise(acc)` fold references the shared acc
    // subtree in both branches, and Catalyst's tree transforms then
    // visit it 2^depth times — the 30-level modpow below never finishes
    // analysis in that shape. Guarding the FACTOR and ADDEND instead
    // ((acc·f + a) mod M with f,a conditional) keeps each level's guard
    // off the accumulator path: past-end positions use f=1, a=0, and
    // `% RollMod` is identity there since acc < RollMod already.
    val blockVal = (0 until RollBlock).foldLeft(lit(0L): Column) { (acc, i) =>
      val inBlock = lit(i) < col("k")
      val c = ascii(col("block").substr(lit(i + 1), lit(1))).cast("long")
      (acc * when(inBlock, 31L).otherwise(1L) + when(inBlock, c).otherwise(0L)) % RollMod
    }
    // 31^e mod M, e = suffix chars after this block, via unrolled
    // square-and-multiply on constant powers (all operands < 2^31, so
    // every intermediate product fits a long). Same single-reference
    // shape: each level multiplies by the constant power or by 1.
    val suffix = (col("len") - col("j") * RollBlock - col("k")).cast("long")
    val weight = (0 until RollPowBits).foldLeft(lit(1L): Column) { (acc, i) =>
      (acc * when(shiftright(col("e"), i).bitwiseAND(1) === 1, rollPow2(i)).otherwise(1L)) % RollMod
    }

    val roll = blocks
      .withColumn("e", suffix)
      .withColumn("contrib", (blockVal * weight) % RollMod)
      .groupBy("doc_id")
      .agg((sum("contrib") % RollMod).as("roll"))

    base.join(roll, Seq("doc_id"), "left")
      .select(col("doc_id"), col("md5_fp"),
        coalesce(col("roll"), lit(0L)).as("rolling_fp"))
      .orderBy("doc_id")
  }

  private val emKeySql =
    s"""regexp_replace(regexp_replace(lower(text), '^${graft.textops.TextOps.WsClass}+|${graft.textops.TextOps.WsClass}+$$', '', 'g'), '${graft.textops.TextOps.WsClass}+', ' ', 'g')"""

  val fingerprintsSql: String =
    s"""WITH n AS (SELECT doc_id, $emKeySql AS s FROM documents)
       |SELECT doc_id, md5(s) AS md5_fp,
       |  CASE WHEN length(s) = 0 THEN 0
       |       ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |              [ascii(substring(s, i, 1))::BIGINT FOR i IN range(1, length(s) + 1)]),
       |            (a, b) -> (a * 31 + b) % $RollMod)
       |  END AS rolling_fp
       |FROM n ORDER BY doc_id""".stripMargin

  // ---- q35: tf-weighted 60-bit SimHash ------------------------------------

  // The 60-bit vote aggregate explodes |term occurrences| × 60 rows — too
  // expensive to rebuild per call, and both q35 and q48 (near-dup pairs)
  // consume it, so the fingerprint frame memoizes per (appId, dir) like
  // the other shared builds.
  private val simhashCache = Memo.frame()

  /** Unordered (doc_id, simhash) fingerprint frame, cached per dir. */
  private[operators] def simhashFrame(spark: SparkSession, dir: String): DataFrame =
    simhashCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$dir", {
      val tf = docs(spark, dir)
        .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("h", conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"))

      val votes = tf
        .select(col("doc_id"), col("tf"), col("h"),
          explode(sequence(lit(0), lit(SimhashBits - 1))).as("b"))
        .withColumn("bit", expr("(h DIV CAST(pow(2, b) AS BIGINT)) % 2"))
        .groupBy("doc_id", "b")
        .agg(sum(col("tf") * (col("bit") * 2 - 1)).as("vote"))

      val sh = votes.groupBy("doc_id")
        .agg(sum(when(col("vote") > 0, expr("CAST(pow(2, b) AS BIGINT)")).otherwise(0L))
          .cast("long").as("simhash"))

      docs(spark, dir).select("doc_id").join(sh, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
        .cache()
    })

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashFrame(spark, dir).orderBy("doc_id")

  /** Shared q35/q48 oracle CTEs ending in shf(doc_id, simhash) — one
    * SimHash derivation so the fingerprint oracle and the near-dup-pair
    * oracle can't drift (same pattern as chunkCtes / minhashCtes). */
  private[operators] val simhashCtes: String =
    s"""stk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |        FROM documents),
       |stf AS (SELECT doc_id, term, count(*) AS tf FROM stk GROUP BY 1, 2),
       |shx AS (SELECT doc_id, term, tf,
       |          CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) AS h FROM stf),
       |svotes AS (SELECT doc_id, b,
       |             sum(tf * (((h // (2 ** b)::BIGINT) % 2) * 2 - 1)) AS vote
       |           FROM shx, (SELECT unnest(range(0, $SimhashBits)) AS b)
       |           GROUP BY doc_id, b),
       |sh0 AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN vote > 0 THEN (2 ** b)::BIGINT ELSE 0 END) AS BIGINT)
       |            AS simhash
       |        FROM svotes GROUP BY doc_id),
       |shf AS (SELECT d.doc_id, coalesce(sh0.simhash, 0) AS simhash
       |        FROM documents d LEFT JOIN sh0 ON d.doc_id = sh0.doc_id)""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash FROM shf ORDER BY doc_id""".stripMargin

  // ---- q36: sliding-window document chunking ------------------------------

  val ChunkSize = 20
  val ChunkStride = 10

  /** Split each document into overlapping token windows (size 20, stride
    * 10) — the canonical training-data chunking op. Chunk start positions
    * explode from a sequence (codegen), window text assembles via
    * slice + array_join. Short docs yield one whole-doc chunk.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1),
          greatest(lit(1), size(col("t")) - (ChunkSize - 1)),
          lit(ChunkStride))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / ChunkStride).cast("long").as("chunk_id"),
        array_join(slice(col("t"), col("start"), lit(ChunkSize)), " ").as("chunk_text"),
        least(lit(ChunkSize), size(col("t")) - col("start") + 1).cast("long")
          .as("chunk_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Shared q36/q47 oracle CTEs ending in ch(doc_id, chunk_id, chunk_text,
    * chunk_tokens) — ONE chunk derivation so a ChunkSize/stride/boundary
    * change can't silently diverge the chunking oracle from the packing
    * oracle (same pattern as DedupOps.minhashCtes). */
  private val chunkCtes =
    s"""tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$TokRe') AS t
       |       FROM documents),
       |st AS (SELECT doc_id, t,
       |         unnest(range(1, greatest(1, len(t) - ${ChunkSize - 1}) + 1, $ChunkStride))
       |           AS start
       |       FROM tk WHERE len(t) > 0),
       |ch AS (SELECT doc_id, CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_id,
       |         array_to_string(t[start : start + ${ChunkSize - 1}], ' ') AS chunk_text,
       |         CAST(least($ChunkSize, len(t) - start + 1) AS BIGINT) AS chunk_tokens
       |       FROM st)""".stripMargin

  val docChunksSql: String =
    s"""WITH $chunkCtes
       |SELECT doc_id, chunk_id, chunk_text, chunk_tokens FROM ch
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ---- q37: top TF-IDF terms per document ---------------------------------

  val TopTermsPerDoc = 3

  /** Per-document keyword extraction: top-3 terms by sublinear TF-IDF,
    * ties by term ASC. */
  def topTermsPerDoc(spark: SparkSession, dir: String): DataFrame = {
    // Reuse the session-memoized index (VERDICT r5 #5): the inline
    // TokenIndex.build here was a second, drift-prone copy of the build
    // that RetrievalOps already caches per (appId, dir).
    val idx = RetrievalOps.tokenIndex(spark, dir)
    val w = Window.partitionBy("doc_id").orderBy(col("w").desc, col("term").asc)
    idx.docTermFreq
      .join(idx.termStats.select("term", "idf"), "term")
      .select(col("doc_id"), col("term"),
        graft.stats.CorpusIndex.sublinearTfIdf(col("tf"), col("idf")).as("w"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopTermsPerDoc)
      .select(col("doc_id"), col("rank"), col("term"), r6(col("w")).as("weight"))
      .orderBy("doc_id", "rank")
  }

  val topTermsPerDocSql: String =
    s"""WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |            FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
       |nn AS (SELECT count(*) AS n FROM documents),
       |idf AS (SELECT term, ln(1 + (n - count(DISTINCT doc_id) + 0.5) / (count(DISTINCT doc_id) + 0.5)) AS idf
       |        FROM tk, nn GROUP BY term, n),
       |wt AS (SELECT doc_id, term, (1 + ln(tf)) * idf AS w FROM tf JOIN idf USING (term)),
       |rk AS (SELECT doc_id, term, w,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term ASC) AS rank
       |       FROM wt)
       |SELECT doc_id, rank, term, floor((w) * 1000000 + 0.5) / 1000000 AS weight
       |FROM rk WHERE rank <= $TopTermsPerDoc ORDER BY doc_id, rank""".stripMargin

  // ---- q38: deterministic stratified sampling -----------------------------

  /** Hash-based stratified sample: rate 20% for 'en', 50% otherwise, keyed
    * on md5(doc_id) so the sample is reproducible across engines and runs —
    * the scalable substitute for seeded random sampling in a pipeline that
    * must be re-runnable. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bucket",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(100L)))
      .filter(
        (col("lang") === "en" && col("bucket") < 20) ||
        (col("lang") =!= "en" && col("bucket") < 50))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |WHERE (lang = 'en' AND bucket < 20) OR (lang <> 'en' AND bucket < 50)
      |ORDER BY doc_id""".stripMargin

  // ---- q99: weighted sample without replacement (deterministic A-ES) ------

  /** Sample size for q99. */
  val SampleN = 100

  /** 16¹³ = 2⁵² — the hashed-uniform denominator. 13 md5 hex digits give
    * h ∈ [0, 2⁵²), so h, h + 0.5, and (h + 0.5)/2⁵² are all EXACT in
    * double (53-bit mantissa, power-of-two divisor): the only inexact
    * step in the sort key is the final ln and divide, both evaluated
    * identically by the JVM and DuckDB on identical inputs. */
  private val UDenom = 4503599627370496.0

  /** q99: weight-proportional sample WITHOUT replacement — the curation
    * primitive behind "take 100 docs, long ones proportionally more
    * often" (mixture construction, eval-set draws, debug slices).
    * Efraimidis–Spiliotis A-ES: per row key u^(1/w) (compared as
    * ln(u)/w), global top-N by key. The uniform u derives from
    * md5(doc_id) — fully deterministic, so the sample is a reproducible
    * artifact of the corpus snapshot, and re-running after an append
    * only swaps rows whose keys the new docs beat (the reservoir
    * property).
    *
    * Scale shape: the key is row-local (one projection, no shuffle);
    * the top-N plans as TakeOrderedAndProject — per-partition partial
    * top-N then an N·partitions merge, never a global sort. Weight here
    * is the n_chars metadata column (floored at 1); any positive
    * integer weight column slots in unchanged. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val keyed = docs(spark, dir).select(
        col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("weight"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .withColumn("skey",
        log((col("h").cast("double") + lit(0.5)) / lit(UDenom)) /
          col("weight").cast("double"))
    keyed.orderBy(col("skey").desc, col("doc_id").asc).limit(SampleN)
      .select(
        row_number().over(Window.orderBy(col("skey").desc, col("doc_id").asc))
          .cast("long").as("rank"),
        col("doc_id"), col("weight"), r6(col("skey")).as("skey"))
      .orderBy("rank")
  }

  /** NOTE the rank/limit runs on the RAW key in a subquery and the r6
    * rounding happens only in the outer projection: `ORDER BY skey` in a
    * query that also aliases a rounded `skey` output resolves to the
    * ALIAS in DuckDB, and rounded near-ties at the cutoff then admit a
    * different top-N than the raw-key order Spark uses (seen at sf0.1). */
  val weightedSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, greatest(n_chars, 1) AS weight,
       |    CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 13)) AS BIGINT) AS h
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, weight,
       |    ln((CAST(h AS DOUBLE) + 0.5) / $UDenom) / CAST(weight AS DOUBLE) AS skey_raw
       |  FROM d)
       |SELECT rank, doc_id, weight,
       |  floor(skey_raw * 1000000 + 0.5) / 1000000 AS skey
       |FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY skey_raw DESC, doc_id ASC) AS BIGINT) AS rank,
       |    doc_id, weight, skey_raw
       |  FROM k)
       |WHERE rank <= $SampleN ORDER BY rank""".stripMargin

  // ---- q39: repetition signals (Gopher-style quality filters) -------------

  /** Per-document repetition statistics, the standard pre-training quality
    * signals: duplicate-token fraction (1 − distinct/total) and the
    * fraction of word-trigram occurrences taken by the single most
    * repeated trigram. Row-local except one (doc, trigram) count — the
    * same explode(sequence) codegen shape as chunking; scale-safe. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(col("doc_id"), TextOps.tokenize(col("text")).as("t"))
    val base = toks.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      size(array_distinct(col("t"))).cast("long").as("n_distinct"))
    val tri = toks.filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("t"), col("i")),
        element_at(col("t"), col("i") + 1),
        element_at(col("t"), col("i") + 2)).as("g"))
    val top = tri.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("topc"), sum(col("c")).as("tot"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        r6(when(col("n_tokens") === 0, 0.0)
          .otherwise((col("n_tokens") - col("n_distinct")).cast("double") /
            col("n_tokens"))).as("dup_token_frac"),
        r6(coalesce(col("topc").cast("double") / col("tot"), lit(0.0)))
          .as("top_trigram_frac"))
      .orderBy("doc_id")
  }

  val repetitionStatsSql: String =
    s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$TokRe') AS t
       |            FROM documents),
       |base AS (SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct
       |         FROM tk),
       |tri AS (SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS g
       |        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
       |              FROM tk WHERE len(t) >= 3)),
       |pc AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
       |top AS (SELECT doc_id, max(c) AS topc, sum(c) AS tot FROM pc GROUP BY doc_id)
       |SELECT base.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  floor((CASE WHEN n_tokens = 0 THEN 0.0
       |              ELSE (n_tokens - n_distinct)::DOUBLE / n_tokens END) * 1000000 + 0.5) / 1000000
       |    AS dup_token_frac,
       |  floor((coalesce(topc::DOUBLE / tot, 0.0)) * 1000000 + 0.5) / 1000000
       |    AS top_trigram_frac
       |FROM base LEFT JOIN top ON base.doc_id = top.doc_id
       |ORDER BY base.doc_id""".stripMargin

  // ---- q47: sequence packing (token-budget bin assignment) ----------------

  val PackBudget = 256
  /** Shards the packing layout runs over. Each shard packs its own chunks
    * independently; 8 at sf0.1 stands in for O(thousands) at 100 TB. */
  val PackShards = 8

  /** Per-shard batch-assembly packing (VERDICT r5 #3): chunks are split
    * across PackShards deterministic shards (md5 of doc_id — reproducible
    * in any engine, unlike Spark's murmur3 `hash`), each shard lays ITS
    * chunks end-to-end in (doc_id, chunk_id) order and assigns each chunk
    * to the token-budget bin its start offset falls in, and shard-local
    * bin ids are then lifted to disjoint global ids by adding the total
    * bin count of all earlier shards.
    *
    * Scale shape: the running sum is a window PARTITIONED BY shard — S
    * parallel tasks, never a single-partition Exchange over the corpus.
    * The lift needs one S-row aggregate (bins per shard) and a
    * triangular self-join on that S-row frame to form exclusive prefix
    * sums — deliberately NOT a global window, so no SinglePartition
    * exchange appears anywhere in the plan (Round6OpsSpec asserts
    * this). shards=1 degenerates to the original single-sequence layout. */
  /** (appId, dir)-memoized packed-chunk frame (doc_id, chunk_id,
    * chunk_tokens, bin_id) — one row per CHUNK, 4 longs, no chunk text
    * (the bounded storage class; q36's text-bearing chunk frame is NOT
    * memoized). Shared by q47 and q147, which each re-ran the corpus
    * tokenize + shard-window pass per invocation (the verifiedPairs
    * precedent: one query's frame, several consumers). */
  private val packCache = Memo.frame()

  private def packedChunks(spark: SparkSession, dir: String): DataFrame =
    packCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$dir",
      sequencePackingUnordered(spark, dir, PackShards).cache())

  def sequencePacking(spark: SparkSession, dir: String): DataFrame =
    packedChunks(spark, dir).orderBy("doc_id", "chunk_id")

  private[operators] def shardOf(c: Column, shards: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long") % shards

  def sequencePackingSharded(spark: SparkSession, dir: String, shards: Int): DataFrame =
    sequencePackingUnordered(spark, dir, shards).orderBy("doc_id", "chunk_id")

  private def sequencePackingUnordered(spark: SparkSession, dir: String, shards: Int): DataFrame = {
    val ch = docChunks(spark, dir).select("doc_id", "chunk_id", "chunk_tokens")
      .withColumn("shard", shardOf(col("doc_id"), shards))
    val w = Window.partitionBy("shard").orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    // DIV, not `/`: Column division on longs is DOUBLE in Spark; DIV is
    // the integral division matching the oracle's `//`.
    val local = ch.withColumn("cum", sum(col("chunk_tokens")).over(w))
      .withColumn("local_bin", expr(s"(cum - chunk_tokens) DIV $PackBudget"))
    val nbins = local.groupBy("shard").agg((max("local_bin") + 1).as("nbins"))
    val offsets = nbins.as("a")
      .join(nbins.as("b"), col("b.shard") < col("a.shard"), "left")
      .groupBy(col("a.shard").as("shard"))
      .agg(coalesce(sum(col("b.nbins")), lit(0L)).as("off"))
    local.join(broadcast(offsets), "shard")
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        (col("off") + col("local_bin")).cast("long").as("bin_id"))
  }

  val sequencePackingSql: String =
    s"""WITH $chunkCtes,
       |sh AS (SELECT doc_id, chunk_id, chunk_tokens,
       |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |           % $PackShards AS shard
       |       FROM ch),
       |cm AS (SELECT doc_id, chunk_id, chunk_tokens, shard,
       |         CAST(sum(chunk_tokens) OVER (PARTITION BY shard
       |           ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |       FROM sh),
       |lb AS (SELECT *, CAST((cum - chunk_tokens) // $PackBudget AS BIGINT) AS local_bin
       |       FROM cm),
       |nb AS (SELECT shard, max(local_bin) + 1 AS nbins FROM lb GROUP BY shard),
       |os AS (SELECT a.shard, CAST(coalesce(sum(b.nbins), 0) AS BIGINT) AS off
       |       FROM nb a LEFT JOIN nb b ON b.shard < a.shard GROUP BY a.shard)
       |SELECT doc_id, chunk_id, chunk_tokens, off + local_bin AS bin_id
       |FROM lb JOIN os USING (shard) ORDER BY doc_id, chunk_id""".stripMargin

  // ---- q147: packing-efficiency audit -------------------------------------

  /** q147: how well the q47 packer fills its bins — per fill-decile
    * bucket (bucket = min(⌊fill·10/PackBudget⌋, 10), with 10 holding
    * the ≥100% bins a straddling chunk overflows into), the bin count,
    * bin share, and mean fill; plus the corpus utilization scalar
    * Σfill / (n_bins·PackBudget). The number a training job actually
    * pays for: every percentage point of under-fill is padding tokens
    * through the forward pass, and a fat overflow bucket means the
    * chunker's chunk size fights the packer's budget. Buckets are pure
    * integer arithmetic on token counts, so both engines bucket
    * identically.
    *
    * Scale shape: one bin_id-keyed count over q47's own output (bin_id
    * is q47's partition-friendly key), then an ≤11-key aggregate;
    * totals broadcast back. Nothing beyond the packing run itself. */
  def packingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val fills = sequencePacking(spark, dir)
      .groupBy("bin_id").agg(sum(col("chunk_tokens")).as("fill"))
    val buckets = fills
      .withColumn("bucket",
        least(expr(s"(fill * 10) DIV $PackBudget"), lit(10L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_bins"), sum(col("fill")).as("bucket_tokens"))
    val tot = buckets.agg(sum(col("n_bins")).as("tb"),
      sum(col("bucket_tokens")).as("tt"))
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_bins"),
        r6(col("n_bins").cast("double") / col("tb")).as("bin_share"),
        r6(col("bucket_tokens").cast("double") / col("n_bins")).as("mean_fill"),
        r6(col("tt").cast("double") / (col("tb") * PackBudget))
          .as("utilization"))
      .orderBy("bucket")
  }

  val packingEfficiencySql: String =
    s"""WITH $chunkCtes,
       |sh AS (SELECT doc_id, chunk_id, chunk_tokens,
       |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |           % $PackShards AS shard
       |       FROM ch),
       |cm AS (SELECT doc_id, chunk_id, chunk_tokens, shard,
       |         CAST(sum(chunk_tokens) OVER (PARTITION BY shard
       |           ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |       FROM sh),
       |lb AS (SELECT *, CAST((cum - chunk_tokens) // $PackBudget AS BIGINT) AS local_bin
       |       FROM cm),
       |nb AS (SELECT shard, max(local_bin) + 1 AS nbins FROM lb GROUP BY shard),
       |os AS (SELECT a.shard, CAST(coalesce(sum(b.nbins), 0) AS BIGINT) AS off
       |       FROM nb a LEFT JOIN nb b ON b.shard < a.shard GROUP BY a.shard),
       |fills AS (SELECT off + local_bin AS bin_id, sum(chunk_tokens) AS fill
       |          FROM lb JOIN os USING (shard) GROUP BY 1),
       |bk AS (SELECT least((fill * 10) // $PackBudget, 10) AS bucket,
       |         count(*) AS n_bins, sum(fill) AS bucket_tokens
       |       FROM fills GROUP BY 1),
       |bt AS (SELECT sum(n_bins) AS tb, sum(bucket_tokens) AS tt FROM bk)
       |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_bins AS BIGINT) AS n_bins,
       |  floor((n_bins::DOUBLE / tb) * 1000000 + 0.5) / 1000000 AS bin_share,
       |  floor((bucket_tokens::DOUBLE / n_bins) * 1000000 + 0.5) / 1000000 AS mean_fill,
       |  floor((tt::DOUBLE / (tb * $PackBudget)) * 1000000 + 0.5) / 1000000 AS utilization
       |FROM bk, bt ORDER BY bucket""".stripMargin

  // ---- q46: language-mixture resampling (sqrt-scaled domain balancing) ----

  /** Deterministic domain-mixture resampling over the skewed `lang`
    * dimension: target weights scale with sqrt(n_l) (the standard
    * temperature-style flattening for imbalanced domains — the corpus here
    * is en-heavy, so en is genuinely downsampled), the total sample size T
    * is the largest corpus honoring every weight without oversampling
    * (min over langs of n_l/w_l), and each lang keeps its floor(w_l·T)
    * lowest docs by md5(doc_id) — a reproducible hash draw, no RNG.
    * Per-lang windows partition by lang (at scale: the two-stage topK
    * trick applies the same way if one domain outgrows a partition).
    *
    * Cross-engine care: Σ sqrt(n_l) accumulates in DECIMAL(38,18) so the
    * handful of per-lang terms sum order-independently; all later
    * arithmetic (sqrt, /, floor) is pure double on identical inputs. */
  def langMixture(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "lang")
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
    val z = counts.agg(
      sum(sqrt(col("n").cast("double")).cast("decimal(38,18)")).cast("double").as("z"))
    val w = counts.crossJoin(broadcast(z))
      .withColumn("w", sqrt(col("n").cast("double")) / col("z"))
    val t = w.agg(min(floor(col("n") / col("w"))).as("t"))
    val keep = w.crossJoin(broadcast(t))
      .select(col("lang"), floor(col("w") * col("t")).cast("long").as("keep_n"))
    d.join(broadcast(keep), "lang")
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long"))
      .filter(col("rk") <= col("keep_n"))
      .select(col("doc_id"), col("lang"), col("rk"), col("keep_n"))
      .orderBy("lang", "rk")
  }

  val langMixtureSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(38,18))) AS DOUBLE) AS z FROM c),
      |w AS (SELECT lang, n, sqrt(n) / z AS w FROM c, z),
      |t AS (SELECT min(floor(n / w)) AS t FROM w),
      |k AS (SELECT lang, CAST(floor(w * t) AS BIGINT) AS keep_n FROM w, t),
      |r AS (SELECT doc_id, d.lang, keep_n,
      |        row_number() OVER (PARTITION BY d.lang
      |          ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |      FROM documents d JOIN k ON d.lang = k.lang)
      |SELECT doc_id, lang, rk, keep_n FROM r WHERE rk <= keep_n
      |ORDER BY lang, rk""".stripMargin

  // ---- q55: unigram-LM surprisal (CCNet-style quality filter) -------------

  /** Corpus-trained unigram language model with add-one smoothing, scoring
    * each document by mean token surprisal −ln p(t) and pseudo-perplexity
    * exp(mean) — the cheap stand-in for the LM-perplexity quality filter
    * used in pre-training pipelines. The LM is vocab-sized (tiny vs the
    * corpus) and broadcast to the scoring join, so the only wide op is the
    * per-doc aggregate; per-doc surprisal sums accumulate in DECIMAL
    * (dsum) because ~100-term double sums are addition-order-dependent
    * across engines. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
    val cnt = tok.groupBy("term").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").as("ctot"), count(lit(1)).as("v"))
    val lm = cnt.crossJoin(broadcast(tot))
      .select(col("term"),
        (-log((col("c") + 1).cast("double") / (col("ctot") + col("v")).cast("double")))
          .as("surp"))
    val per = tok.join(broadcast(lm), "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), dsum(col("surp")).as("ssum"))
    docs(spark, dir).select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        r6(coalesce(col("ssum") / col("n_tokens"), lit(0.0))).as("mean_surprisal"),
        r6(exp(coalesce(col("ssum") / col("n_tokens"), lit(0.0)))).as("pseudo_ppl"))
      .orderBy("doc_id")
  }

  val unigramSurprisalSql: String =
    s"""WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |            FROM documents),
       |c AS (SELECT term, count(*) AS c FROM tk GROUP BY term),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ctot, count(*) AS v FROM c),
       |lm AS (SELECT term, -ln((c + 1)::DOUBLE / (ctot + v)) AS surp FROM c, tot),
       |per AS (SELECT doc_id, count(*) AS n_tokens,
       |          CAST(sum(CAST(surp AS DECIMAL(30,8))) AS DOUBLE) AS ssum
       |        FROM tk JOIN lm USING (term) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
       |  floor((coalesce(ssum / n_tokens, 0.0)) * 1000000 + 0.5) / 1000000 AS mean_surprisal,
       |  floor((exp(coalesce(ssum / n_tokens, 0.0))) * 1000000 + 0.5) / 1000000 AS pseudo_ppl
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---- q56: character-level Shannon entropy -------------------------------

  /** ln(2) as an exact double literal: dividing by each engine's own
    * libm-computed log(2) could differ in the last ulp. */
  private val Ln2 = 0.6931471805599453

  /** Per-document character entropy in bits plus distinct-char count — the
    * gibberish/boilerplate detector (low entropy = repetitive filler, high
    * = random noise).
    *
    * Computed by the native [[graft.functions.CharStats]] expressions
    * (codegen'd histogram loop): entropy is a pure per-row function, but
    * the declarative formulation this replaced (rounds 4–6) was forced
    * through explode(chars) → groupBy(doc, ch) → groupBy(doc) — two
    * corpus-wide shuffles whose exchanged volume was the corpus's
    * character count, the engine's single most expensive text query
    * (1.7 s at sf0.1 → ~0.1 s). The expression reproduces the shuffled
    * DECIMAL(30,8) term accumulation bit-for-bit (exact decimal addition
    * is order-free — see the CharStats scaladoc), so the DuckDB oracle is
    * unchanged; Round7OpsSpec also pins the expression against the old
    * DataFrame derivation row-for-row. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CharStats.{charDistinct, charEntropyNatsNeg}
    docs(spark, dir)
      .select(col("doc_id"),
        coalesce(charDistinct(col("text")), lit(0L)).as("n_distinct_chars"),
        r6(coalesce(charEntropyNatsNeg(col("text")), lit(0.0)) / Ln2)
          .as("entropy_bits"))
      .orderBy("doc_id")
  }

  /** The pre-round-7 shuffled derivation, kept as the spec-pinning
    * reference formulation for the native expression (not on any query
    * path — Round7OpsSpec equates the two). */
  private[graft] def charEntropyShuffled(spark: SparkSession, dir: String): DataFrame = {
    val chars = docs(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")))).as("i"))
      .select(col("doc_id"), expr("substr(text, i, 1)").as("ch"))
    val cnt = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val per = cnt.groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct_chars"))
    val ent = cnt.join(per, "doc_id")
      .select(col("doc_id"), col("n_distinct_chars"),
        (col("c").cast("double") / col("n") *
          log(col("c").cast("double") / col("n"))).as("term"))
      .groupBy("doc_id", "n_distinct_chars")
      .agg((-dsum(col("term")) / Ln2).as("ebits"))
    docs(spark, dir).select("doc_id").join(ent, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        r6(coalesce(col("ebits"), lit(0.0))).as("entropy_bits"))
      .orderBy("doc_id")
  }

  val charEntropySql: String =
    s"""WITH ch AS (
       |  SELECT doc_id, unnest([substring(text, i, 1)
       |                         FOR i IN range(1, length(text) + 1)]) AS ch
       |  FROM documents WHERE length(text) > 0),
       |cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
       |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct_chars
       |        FROM cnt GROUP BY doc_id),
       |ent AS (SELECT cnt.doc_id, n_distinct_chars,
       |          -CAST(sum(CAST((c::DOUBLE / n) * ln(c::DOUBLE / n) AS DECIMAL(30,8)))
       |            AS DOUBLE) / $Ln2 AS ebits
       |        FROM cnt JOIN per ON cnt.doc_id = per.doc_id
       |        GROUP BY cnt.doc_id, n_distinct_chars)
       |SELECT d.doc_id, coalesce(n_distinct_chars, 0) AS n_distinct_chars,
       |  floor((coalesce(ebits, 0.0)) * 1000000 + 0.5) / 1000000 AS entropy_bits
       |FROM documents d LEFT JOIN ent ON d.doc_id = ent.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- q57: word-trigram novelty ------------------------------------------

  /** Cross-corpus novelty: the fraction of a document's distinct word
    * trigrams that appear in NO other document (df = 1) — high novelty
    * marks original content, low marks boilerplate. One shuffle keyed on
    * the trigram for the df aggregate (high-cardinality key — the same
    * scale shape as the q43 Jaccard blocking), one per-doc aggregate.
    * The ratio divides two exact longs. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(col("doc_id"), TextOps.tokenize(col("text")).as("t"))
    val tri = toks.filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("t"), col("i")),
        element_at(col("t"), col("i") + 1),
        element_at(col("t"), col("i") + 2)).as("g"))
      .distinct()
    val df = tri.groupBy("g").agg(count(lit(1)).as("df"))
    val per = tri.join(df, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_trigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
    docs(spark, dir).select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_distinct_trigrams"), lit(0L)).as("n_distinct_trigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        r6(coalesce(col("n_novel").cast("double") / col("n_distinct_trigrams"),
          lit(0.0))).as("novelty_frac"))
      .orderBy("doc_id")
  }

  val ngramNoveltySql: String =
    s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$TokRe') AS t
       |            FROM documents),
       |tri AS (SELECT DISTINCT doc_id, array_to_string(t[i : i + 2], ' ') AS g
       |        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
       |              FROM tk WHERE len(t) >= 3)),
       |df AS (SELECT g, count(*) AS df FROM tri GROUP BY g),
       |per AS (SELECT doc_id, count(*) AS n_distinct_trigrams,
       |          CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |        FROM tri JOIN df USING (g) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(n_distinct_trigrams, 0) AS n_distinct_trigrams,
       |  coalesce(n_novel, 0) AS n_novel,
       |  floor((coalesce(n_novel::DOUBLE / n_distinct_trigrams, 0.0)) * 1000000 + 0.5) / 1000000
       |    AS novelty_frac
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---- q73/q74: smoothed bigram LM + per-doc bigram surprisal -------------

  /** Add-k smoothing constant (k = 1/2 — Jeffreys prior). */
  val BigramK = 0.5
  /** Rows the q73 model-table query emits. */
  val BigramTop = 100

  /** Exploded (doc_id, w1, w2) bigram occurrences — explode(sequence) +
    * element_at, the same codegen shape as the q57 trigrams. */
  private def bigramPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(col("doc_id"), TextOps.tokenize(col("text")).as("t"))
    toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
  }

  /** Conditional bigram LM frame (w1, w2, c12, c1, v): counts from two
    * partial-agg shuffles keyed on (w1, w2) and w1 — the n-gram-LM
    * training pass of a pre-training pipeline. The follower vocabulary V
    * is a 1-row broadcast. */
  private def bigramLmFrame(spark: SparkSession, dir: String): DataFrame = {
    val c12 = bigramPairs(spark, dir).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val v = c12.agg(countDistinct("w2").as("v"))
    c12.join(c1, "w1").crossJoin(broadcast(v))
  }

  /** q73: the trained model table — top-BigramTop bigrams by count with
    * their add-k conditional probability p(w2|w1) = (c12+k)/(c1+k·V).
    * Total order (c12 DESC, w1, w2) makes the LIMIT deterministic. The
    * probability divides exact-integer-derived doubles, so both engines
    * see identical operands. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLmFrame(spark, dir)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        r6((col("c12") + BigramK) / (col("c1") + col("v") * BigramK)).as("p"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(BigramTop)

  /** q74: per-document mean bigram surprisal −ln p(w2|w1) under the q73
    * LM — the bigram upgrade of q55's CCNet-style quality filter (a
    * unigram LM can't see scrambled word order; a bigram LM can). The
    * scoring join keys on (w1, w2) with NO forced broadcast: bigram TYPE
    * count is vocab²-bounded (tiny here) but open-vocabulary corpora can
    * push it past broadcast size, so AQE picks the strategy from runtime
    * stats. Per-doc surprisal sums accumulate in DECIMAL (dsum), as in
    * q55/q56. */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val lm = bigramLmFrame(spark, dir)
      .select(col("w1"), col("w2"),
        (-log((col("c12") + BigramK) / (col("c1") + col("v") * BigramK))).as("surp"))
    val per = bigramPairs(spark, dir).join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), dsum(col("surp")).as("ssum"))
    docs(spark, dir).select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        r6(coalesce(col("ssum") / col("n_bigrams"), lit(0.0))).as("mean_surprisal"))
      .orderBy("doc_id")
  }

  private val bigramCtes: String =
    s"""tk AS (SELECT doc_id, regexp_extract_all(lower(text), '$TokRe') AS t
       |       FROM documents),
       |bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
       |             FROM tk WHERE len(t) >= 2)),
       |cb AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
       |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb GROUP BY w1),
       |vv AS (SELECT count(DISTINCT w2) AS v FROM cb)""".stripMargin

  val bigramLmSql: String =
    s"""WITH $bigramCtes
       |SELECT w1, w2, c12, c1,
       |  floor(((c12 + $BigramK) / (c1 + $BigramK * v)) * 1000000 + 0.5) / 1000000 AS p
       |FROM cb JOIN cu USING (w1), vv
       |ORDER BY c12 DESC, w1, w2 LIMIT $BigramTop""".stripMargin

  val bigramSurprisalSql: String =
    s"""WITH $bigramCtes,
       |lm AS (SELECT w1, w2, -ln((c12 + $BigramK) / (c1 + $BigramK * v)) AS surp
       |       FROM cb JOIN cu USING (w1), vv),
       |per AS (SELECT doc_id, count(*) AS n_bigrams,
       |          CAST(sum(CAST(surp AS DECIMAL(30,8))) AS DOUBLE) AS ssum
       |        FROM bi JOIN lm USING (w1, w2) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
       |  floor((coalesce(ssum / n_bigrams, 0.0)) * 1000000 + 0.5) / 1000000 AS mean_surprisal
       |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---- q103: boilerplate cleaning pass (C4-style) -------------------------

  /** URL pattern in the proven Java-regex/RE2 common subset (see q89's
    * note): no lookaround, leftmost-longest alternation-free matching. */
  val CleanUrlRe = s"https?://[^${TextOps.WsChars}]+"
  /** Repeated-punctuation runs (3+ of the same separator chars). */
  val CleanPunctRe = """[!?.,;:*#=~_-]{3,}"""

  /** q103: the deterministic text-cleaning pass a web corpus runs before
    * anything else touches it — strip URLs and email addresses (reusing
    * q89's email pattern), collapse repeated-punctuation runs to one
    * placeholder char, squeeze whitespace, trim. Emits per-doc removal
    * counts, before/after lengths, the removed-character fraction, and
    * the md5 of the cleaned text (the dedup tiers' input were this
    * chained). Entirely row-local regex work in whole-stage codegen —
    * one pass, no shuffle beyond the ordered dump (q89's scale shape).
    *
    * The n_urls/n_emails/n_punct_runs columns are RAW-TEXT occurrence
    * counts (each pattern matched against the original lowered text), not
    * replacement counts: the cleaning chain applies sequentially, so e.g.
    * a punctuation run inside a URL is counted here but already removed
    * by the URL pass. Raw occurrence counts are the corpus-profiling
    * number (how much of each artifact the corpus contains); the
    * performed-replacement delta is visible via n_chars_raw −
    * n_chars_clean. (ADVICE r7 #3.)
    */
  def cleanText(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    val cleaned = trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, CleanUrlRe, " "),
          PiiEmailRe, " "),
        CleanPunctRe, "."),
      s"${TextOps.WsClass}+", " "))
    docs(spark, dir).select(col("doc_id"),
        size(regexp_extract_all(t, lit(CleanUrlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(t, lit(PiiEmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(t, lit(CleanPunctRe), lit(0))).cast("long").as("n_punct_runs"),
        length(t).cast("long").as("n_chars_raw"),
        length(cleaned).cast("long").as("n_chars_clean"),
        r6(when(length(t) === 0, 0.0)
          .otherwise((length(t) - length(cleaned)).cast("double") /
            length(t).cast("double"))).as("removed_frac"),
        md5(cleaned).as("clean_md5"))
      .orderBy("doc_id")
  }

  lazy val cleanTextSql: String = {
    val ws = s"${TextOps.WsClass}+"
    val cleaned = s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(text),
       |    '$CleanUrlRe', ' ', 'g'), '$PiiEmailRe', ' ', 'g'), '$CleanPunctRe', '.', 'g'), '$ws', ' ', 'g'))"""
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(lower(text), '$CleanUrlRe')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(lower(text), '$PiiEmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(lower(text), '$CleanPunctRe')) AS BIGINT) AS n_punct_runs,
       |  CAST(length(lower(text)) AS BIGINT) AS n_chars_raw,
       |  CAST(length($cleaned) AS BIGINT) AS n_chars_clean,
       |  floor((CASE WHEN length(lower(text)) = 0 THEN 0.0
       |    ELSE CAST(length(lower(text)) - length($cleaned) AS DOUBLE) / length(lower(text))
       |    END) * 1000000 + 0.5) / 1000000 AS removed_frac,
       |  md5($cleaned) AS clean_md5
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- q101/q102: interpolated Kneser-Ney bigram LM -----------------------

  /** Absolute discount D for interpolated Kneser-Ney. 0.75 (the standard
    * choice) is exact in double, and every other operand is
    * exact-integer-derived, so the probability arithmetic is
    * engine-portable op by op. */
  val KnDiscount = 0.75

  /** Count frame for KN: observed bigrams with c12, left totals c1,
    * N1+(w1·) (distinct continuations of w1 = rows per w1 in the distinct
    * pair table), N1+(·w2) (distinct left contexts of w2), and N1+(··)
    * (total distinct bigram types). One (w1,w2) aggregate then three
    * metadata-scale regroupings — at 100 TB the pair table is the only
    * big intermediate, and it is vocab²-bounded, far below the token
    * stream. */
  private[graft] def knFrame(spark: SparkSession, dir: String): DataFrame = {
    val c12 = bigramPairs(spark, dir).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1w1"))
    val cont = c12.groupBy("w2").agg(count(lit(1)).as("n1w2"))
    val tot = c12.agg(count(lit(1)).as("ntypes"))
    c12.join(c1, "w1").join(cont, "w2").crossJoin(broadcast(tot))
  }

  /** p_KN(w2|w1) for observed bigrams: discounted ML mass plus the
    * back-off weight λ(w1) = D·N1+(w1·)/c1 times the continuation
    * probability N1+(·w2)/N1+(··) — the novel-continuation estimate that
    * makes KN the standard n-gram smoother (add-k, q73, over-rewards
    * frequent unigrams in unseen contexts; KN rewards versatile ones). */
  private def pkn: Column =
    (col("c12") - KnDiscount) / col("c1") +
      (lit(KnDiscount) * col("n1w1") / col("c1")) *
        (col("n1w2") / col("ntypes").cast("double"))

  /** q101: the trained KN model table — same shape/order contract as q73
    * so the two smoothers compare row for row. */
  def knBigramLm(spark: SparkSession, dir: String): DataFrame =
    knFrame(spark, dir)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), r6(pkn).as("p_kn"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(BigramTop)

  /** q102: per-document mean KN surprisal — q74's quality filter under
    * the better-calibrated smoother. Join/aggregate shape identical to
    * q74 (AQE-chosen join, DECIMAL surprisal sums). */
  def knSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val lm = knFrame(spark, dir).select(col("w1"), col("w2"), (-log(pkn)).as("surp"))
    val per = bigramPairs(spark, dir).join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), dsum(col("surp")).as("ssum"))
    docs(spark, dir).select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        r6(coalesce(col("ssum") / col("n_bigrams"), lit(0.0))).as("mean_kn_surprisal"))
      .orderBy("doc_id")
  }

  private val knCtes: String =
    s"""$bigramCtes,
       |kc1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1w1
       |        FROM cb GROUP BY w1),
       |kcont AS (SELECT w2, count(*) AS n1w2 FROM cb GROUP BY w2),
       |ktot AS (SELECT count(*) AS ntypes FROM cb),
       |klm AS (SELECT w1, w2, c12, c1,
       |    (c12 - $KnDiscount) / c1 + ($KnDiscount * n1w1 / c1) * (n1w2 / CAST(ntypes AS DOUBLE)) AS pkn
       |  FROM cb JOIN kc1 USING (w1) JOIN kcont USING (w2), ktot)""".stripMargin

  val knBigramLmSql: String =
    s"""WITH $knCtes
       |SELECT w1, w2, c12, c1,
       |  floor(pkn * 1000000 + 0.5) / 1000000 AS p_kn
       |FROM klm ORDER BY c12 DESC, w1, w2 LIMIT $BigramTop""".stripMargin

  val knSurprisalSql: String =
    s"""WITH $knCtes,
       |kper AS (SELECT doc_id, count(*) AS n_bigrams,
       |           CAST(sum(CAST(-ln(pkn) AS DECIMAL(30,8))) AS DOUBLE) AS ssum
       |         FROM bi JOIN klm USING (w1, w2) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
       |  floor((coalesce(ssum / n_bigrams, 0.0)) * 1000000 + 0.5) / 1000000 AS mean_kn_surprisal
       |FROM documents d LEFT JOIN kper USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---- q144: per-source LM surprisal scorecard ----------------------------

  /** q144: the CCNet signal read per SOURCE — each source's document
    * count, bigram mass, and mean per-doc KN surprisal under the corpus
    * LM. q102 scores documents (the per-doc perplexity filter); this
    * rolls the same scores up to the slice a mixture decision is made
    * at: a source whose text the corpus LM finds systematically
    * surprising is out-of-distribution (boilerplate, non-prose,
    * misidentified language) and its q120 weight deserves a second
    * look. Completes the per-source panel: q88 duplication, q112
    * unigram KL, q133 quality/flag rates, and now the LM view.
    *
    * Means average the r6-rounded per-doc values (the q133 discipline —
    * both engines sum identical rounded terms in DECIMAL, so the
    * |sources|-row table is order-free). Scale shape: one doc_id join
    * onto the q102 frame, then a |sources|-key map-side-combined
    * aggregate — zero-bigram docs enter at surprisal 0 exactly as q102
    * emits them. */
  def sourceKnSurprisal(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select("doc_id", "source")
      .join(knSurprisal(spark, dir), Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        r6(dsum(col("mean_kn_surprisal")) / count(lit(1)))
          .as("mean_doc_surprisal"))
      .orderBy("source")

  val sourceKnSurprisalSql: String =
    s"""WITH $knCtes,
       |kper AS (SELECT doc_id, count(*) AS n_bigrams,
       |           CAST(sum(CAST(-ln(pkn) AS DECIMAL(30,8))) AS DOUBLE) AS ssum
       |         FROM bi JOIN klm USING (w1, w2) GROUP BY doc_id),
       |kdoc AS (SELECT d.doc_id, d.source, coalesce(n_bigrams, 0) AS n_bigrams,
       |           floor((coalesce(ssum / n_bigrams, 0.0)) * 1000000 + 0.5) / 1000000 AS m
       |         FROM documents d LEFT JOIN kper USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       |  floor((CAST(sum(CAST(m AS DECIMAL(30,8))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS mean_doc_surprisal
       |FROM kdoc GROUP BY source ORDER BY source""".stripMargin

  // ---- q153: signal-agreement audit (quality × surprisal Pearson) ---------

  /** q153: do the two quality signals agree — the exact Pearson
    * correlation between the heuristic quality score (q30) and the KN
    * LM surprisal (q102), per document. A curation stack composes
    * filters built on both; if they strongly agree, one is redundant,
    * and if they strongly DISAGREE the composed filter is incoherent —
    * either way the number must be measured before q113 stacks its
    * gates. "Measure, don't guess" applied to the engine's own
    * signals, like q138 for the sketch tier.
    *
    * Determinism: both inputs are the r6-rounded per-doc values the
    * declared queries emit; the five moments accumulate in DECIMAL
    * (order-free), and r derives from those moments with the SAME
    * double expression shape in both engines — the q69 z-score trick.
    * Zero variance guards to 0 rather than NaN.
    *
    * Scale shape: one doc_id join of two memoized per-doc frames, one
    * map-side-combined 5-moment aggregate, 1-row output. */
  def signalAgreement(spark: SparkSession, dir: String): DataFrame = {
    val q = textQuality(spark, dir).select(col("doc_id"), col("quality_score").as("x"))
    val s = knSurprisal(spark, dir).select(col("doc_id"), col("mean_kn_surprisal").as("y"))
    val m = q.join(s, "doc_id").agg(
      count(lit(1)).as("n_docs"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    val vx = col("n_docs") * col("sxx") - col("sx") * col("sx")
    val vy = col("n_docs") * col("syy") - col("sy") * col("sy")
    m.select(col("n_docs"),
      r6(col("sx") / col("n_docs")).as("mean_quality"),
      r6(col("sy") / col("n_docs")).as("mean_surprisal"),
      r6(when(vx <= 0 || vy <= 0, 0.0)
        .otherwise((col("n_docs") * col("sxy") - col("sx") * col("sy")) /
          sqrt(vx * vy))).as("pearson_r"))
  }

  val signalAgreementSql: String =
    s"""WITH $qualityCtes,
       |$knCtes,
       |kper AS (SELECT doc_id, count(*) AS n_bigrams,
       |           CAST(sum(CAST(-ln(pkn) AS DECIMAL(30,8))) AS DOUBLE) AS ssum
       |         FROM bi JOIN klm USING (w1, w2) GROUP BY doc_id),
       |sxy AS (SELECT qual.doc_id, quality_score AS x,
       |          floor((coalesce(ssum / n_bigrams, 0.0)) * 1000000 + 0.5) / 1000000 AS y
       |        FROM qual LEFT JOIN kper ON qual.doc_id = kper.doc_id),
       |mom AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS sx,
       |          CAST(sum(CAST(y AS DECIMAL(30,8))) AS DOUBLE) AS sy,
       |          CAST(sum(CAST(x * y AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
       |          CAST(sum(CAST(x * x AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
       |          CAST(sum(CAST(y * y AS DECIMAL(30,8))) AS DOUBLE) AS syy
       |        FROM sxy)
       |SELECT n_docs,
       |  floor((sx / n_docs) * 1000000 + 0.5) / 1000000 AS mean_quality,
       |  floor((sy / n_docs) * 1000000 + 0.5) / 1000000 AS mean_surprisal,
       |  floor((CASE WHEN n_docs * sxx - sx * sx <= 0 OR n_docs * syy - sy * sy <= 0
       |              THEN 0.0
       |              ELSE (n_docs * sxy - sx * sy) /
       |                sqrt((n_docs * sxx - sx * sx) * (n_docs * syy - sy * sy))
       |         END) * 1000000 + 0.5) / 1000000 AS pearson_r
       |FROM mom""".stripMargin

  // ---- q175: per-source token-count quantiles ------------------------------

  /** q175: per source the exact interpolated quartiles of per-document
    * token counts, plus min/max and the doc count — the length-profile
    * panel row that sits next to q133's quality scorecard when setting
    * q126's max_seq_len or q120's mixture weights per source (a source
    * whose p75 is 4× another's packs very differently). Spark
    * `percentile` and DuckDB `quantile_cont` share the same linear
    * interpolation on exact integer inputs (the proven q14 pairing), so
    * the quartiles agree to the r6 grain.
    *
    * Scale shape: one row-local token count, one |sources|-key exact
    * percentile (per-GROUP gather — fine for bounded groups; the global
    * variant is q14/q15's sketch twin). */
  def sourceTokenQuantiles(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"),
        size(graft.textops.TextOps.tokenize(col("text"))).cast("double").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(nt, array(0.25D, 0.5D, 0.75D))").as("q"),
        min(col("nt")).cast("long").as("min_tokens"),
        max(col("nt")).cast("long").as("max_tokens"))
      .select(col("source"), col("n_docs"),
        r6(element_at(col("q"), 1)).as("p25"),
        r6(element_at(col("q"), 2)).as("p50"),
        r6(element_at(col("q"), 3)).as("p75"),
        col("min_tokens"), col("max_tokens"))
      .orderBy("source")

  val sourceTokenQuantilesSql: String =
    s"""WITH stq AS (SELECT source,
       |               CAST(len(regexp_extract_all(lower(text), '$TokRe')) AS DOUBLE) AS nt
       |             FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  floor((quantile_cont(nt, 0.25)) * 1000000 + 0.5) / 1000000 AS p25,
       |  floor((quantile_cont(nt, 0.5)) * 1000000 + 0.5) / 1000000 AS p50,
       |  floor((quantile_cont(nt, 0.75)) * 1000000 + 0.5) / 1000000 AS p75,
       |  CAST(min(nt) AS BIGINT) AS min_tokens,
       |  CAST(max(nt) AS BIGINT) AS max_tokens
       |FROM stq GROUP BY source ORDER BY source""".stripMargin

  // ---- q78: token-budget corpus curation (quality-greedy budget fill) -----

  /** Integer micro-score bucket key (ADVICE r6): qkey = floor(q·10⁶ + 0.5)
    * over the already-r6-ROUNDED score. The r6 value is X/10⁶ for integer
    * X, so q·10⁶ + 0.5 lands strictly inside (X, X+1) (representation
    * error ~10⁻¹⁰) and the floor recovers X exactly — bucket membership
    * and sort order become pure-integer-derived in both engines, removing
    * the last-ulp-at-a-rounding-boundary risk of grouping/joining on a
    * DOUBLE key. SQL twin: CAST(floor(q * 1000000 + 0.5) AS BIGINT). */
  private[graft] def qkeyOf(r6Score: Column): Column =
    floor(r6Score * lit(1e6) + lit(0.5)).cast("long")

  /** Curate the corpus to a token budget (half the corpus total here):
    * keep the maximal prefix of documents in (quality DESC, doc_id ASC)
    * order whose cumulative token count fits the budget — the greedy
    * selection a pre-training data recipe runs once quality scores exist.
    *
    * A naive global running sum over documents serializes the corpus
    * through one task (the q47 lesson). Greedy budget fill decomposes
    * instead around the quality HISTOGRAM: per-bucket token totals
    * (buckets = distinct INTEGER micro-scores qkey, ≤ 10⁶ —
    * metadata-scale, so its ordered prefix window is trivially cheap and
    * the bucket frame broadcasts), plus a per-doc running sum PARTITIONED
    * BY bucket for the one boundary bucket the budget lands in. A doc is
    * kept iff bucket_prefix + its within-bucket prefix fits — exactly the
    * global greedy order, with no single-partition pass over the corpus. */
  def tokenBudgetCuration(spark: SparkSession, dir: String): DataFrame =
    budgetFill(
      textQuality(spark, dir).select("doc_id", "quality_score", "n_tokens")
        .withColumn("qkey", qkeyOf(col("quality_score"))),
      "quality_score")

  /** The shared greedy-budget-fill decomposition (q78 heuristic score, q94
    * learned probability): over (doc_id, <score>, n_tokens, qkey), keep the
    * maximal prefix in (score DESC, doc_id ASC) order whose cumulative
    * token count fits half the corpus total. */
  private def budgetFill(d: DataFrame, scoreCol: String): DataFrame = {
    val bt = d.groupBy("qkey").agg(sum("n_tokens").as("btok"))
    val wb = Window.orderBy(col("qkey").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // The grand total (= the budget's numerator) rides the SAME bounded
    // bucket-window pass as the prefix sum — a separate corpus aggregate +
    // crossJoin costs two more jobs per run for a number the histogram
    // already holds.
    val wAll = Window.orderBy(col("qkey").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bk = bt
      .withColumn("cum_before", coalesce(sum("btok").over(wb), lit(0L)))
      .withColumn("tot_all", sum("btok").over(wAll))
      .withColumn("budget", expr("CAST(tot_all DIV 2 AS BIGINT)"))
      .select("qkey", "cum_before", "budget")
    val wd = Window.partitionBy("qkey").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    d.join(broadcast(bk), "qkey")
      .withColumn("doc_cum", sum("n_tokens").over(wd))
      .withColumn("cum_tokens", (col("cum_before") + col("doc_cum")).cast("long"))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col(scoreCol), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** SQL twin of [[budgetFill]]: the qk/bt/bk/dd chain over a CTE named
    * `src` with columns (doc_id, `scoreCol`, n_tokens). */
  private def budgetFillSql(src: String, scoreCol: String): String =
    s"""qk AS (SELECT doc_id, $scoreCol, n_tokens,
       |         CAST(floor($scoreCol * 1000000 + 0.5) AS BIGINT) AS qkey
       |       FROM $src),
       |bt AS (SELECT qkey, CAST(sum(n_tokens) AS BIGINT) AS btok
       |       FROM qk GROUP BY 1),
       |bk AS (SELECT qkey,
       |         CAST(coalesce(sum(btok) OVER (ORDER BY qkey DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS cum_before,
       |         CAST(sum(btok) OVER () // 2 AS BIGINT) AS budget
       |       FROM bt),
       |dd AS (SELECT q.doc_id, q.$scoreCol, q.n_tokens, bk.cum_before, bk.budget,
       |         CAST(sum(q.n_tokens) OVER (PARTITION BY q.qkey
       |           ORDER BY q.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS doc_cum
       |       FROM qk q JOIN bk USING (qkey))
       |SELECT doc_id, $scoreCol, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  cum_before + doc_cum AS cum_tokens
       |FROM dd WHERE cum_before + doc_cum <= budget
       |ORDER BY doc_id""".stripMargin

  val tokenBudgetCurationSql: String =
    s"""WITH $qualityCtes,
       |${budgetFillSql("qual", "quality_score")}""".stripMargin

  // ---- q90: corpus card (one-row release profile) -------------------------

  /** The one-row profile a corpus release ships with — the "corpus card"
    * numbers every dataset writeup quotes: document/token/vocabulary
    * counts, mean document length, language and source diversity, the
    * largest single source's share (skew signal for mixture weighting),
    * and the exact-duplicate rate from the q40 fingerprint.
    *
    * Scale shape: four independent aggregates (token moments, metadata
    * counts, source histogram max, fingerprint group sizes), each a
    * map-side-combined shuffle to a 1-row frame, cross-joined at the end
    * (all sides are single rows — broadcast by construction). Nothing
    * quadratic, nothing driver-side. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val tokAgg = d.select(explode(TextOps.tokenize(col("text"))).as("term"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct("term").as("vocab_size"))
    val meta = d.agg(count(lit(1)).as("n_docs"),
      countDistinct("lang").as("n_langs"), countDistinct("source").as("n_sources"))
    val srcMax = d.groupBy("source").agg(count(lit(1)).as("c"))
      .agg(max("c").as("max_src"))
    val dupAgg = d.select(DedupOps.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("gs"))
      .agg(coalesce(sum(when(col("gs") > 1, col("gs"))), lit(0L)).as("exact_dup_docs"))
    meta.crossJoin(tokAgg).crossJoin(srcMax).crossJoin(dupAgg)
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
        r6(col("n_tokens").cast("double") / col("n_docs")).as("mean_doc_tokens"),
        col("n_langs"), col("n_sources"),
        r6(col("max_src").cast("double") / col("n_docs")).as("max_source_share"),
        col("exact_dup_docs"),
        r6(col("exact_dup_docs").cast("double") / col("n_docs")).as("exact_dup_rate"))
  }

  val corpusCardSql: String =
    s"""WITH ctk AS (SELECT unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |             FROM documents),
       |ta AS (SELECT count(*) AS n_tokens, count(DISTINCT term) AS vocab_size FROM ctk),
       |meta AS (SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       |           count(DISTINCT source) AS n_sources FROM documents),
       |sm AS (SELECT max(c) AS max_src FROM
       |         (SELECT count(*) AS c FROM documents GROUP BY source)),
       |dg AS (SELECT count(*) AS gs FROM
       |         (SELECT md5(${DedupOps.emKeySql}) AS fp FROM documents) GROUP BY fp),
       |da AS (SELECT CAST(coalesce(sum(CASE WHEN gs > 1 THEN gs END), 0) AS BIGINT)
       |         AS exact_dup_docs FROM dg)
       |SELECT n_docs, n_tokens, vocab_size,
       |  floor((n_tokens::DOUBLE / n_docs) * 1000000 + 0.5) / 1000000 AS mean_doc_tokens,
       |  n_langs, n_sources,
       |  floor((max_src::DOUBLE / n_docs) * 1000000 + 0.5) / 1000000 AS max_source_share,
       |  exact_dup_docs,
       |  floor((exact_dup_docs::DOUBLE / n_docs) * 1000000 + 0.5) / 1000000 AS exact_dup_rate
       |FROM meta, ta, sm, da""".stripMargin

  // ---- q89: PII detection + redaction -------------------------------------

  /** PII patterns, written in the common subset of Java regex (Spark) and
    * RE2 (DuckDB): character classes, bounded quantifiers, \b — no
    * backrefs, no lookaround. Greedy quantifiers are leftmost-longest for
    * these alternation-free patterns in both engines. Applied to
    * lower(text). */
  val PiiEmailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  val PiiIpRe = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
  val PiiSsnRe = """\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"""
  val PiiPhoneRe = """\+[0-9][0-9() -]{6,}[0-9]"""

  /** Per-document PII scan + scrub — the redaction pass every released
    * training corpus runs: count matches per category (emails, IPv4s,
    * SSN-shaped ids, international phone numbers) on the raw text, and
    * produce the md5 of the text with each category replaced by its
    * placeholder tag, in a fixed category order so the scrub is
    * deterministic. The synthetic corpus is PII-free (all-zero counts;
    * the oracle still pins engine agreement on the full scan+scrub
    * plumbing); Round7OpsSpec plants real PII shapes and pins counts,
    * redaction, and clean-text passthrough.
    *
    * Scale shape: entirely row-local regex work inside whole-stage
    * codegen — the ideal 100 TB operator: one pass, no shuffle at all
    * beyond the final ordered dump. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(t, PiiEmailRe, "<email>"),
            PiiIpRe, "<ip>"),
          PiiSsnRe, "<ssn>"),
        PiiPhoneRe, "<phone>")
    docs(spark, dir).select(col("doc_id"),
        size(regexp_extract_all(t, lit(PiiEmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(t, lit(PiiIpRe), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(t, lit(PiiSsnRe), lit(0))).cast("long").as("n_ssns"),
        size(regexp_extract_all(t, lit(PiiPhoneRe), lit(0))).cast("long").as("n_phones"),
        md5(scrubbed).as("scrubbed_md5"))
      .withColumn("has_pii",
        (col("n_emails") + col("n_ips") + col("n_ssns") + col("n_phones")) > 0)
      .orderBy("doc_id")
  }

  // DuckDB single-quoted strings keep backslashes literal (see emKeySql's
  // '\s'), so the patterns drop in verbatim; regexp_replace needs the 'g'
  // flag to scrub ALL occurrences (Spark's regexp_replace is always global).
  val piiScrubSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(lower(text), '$PiiEmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(lower(text), '$PiiIpRe')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(lower(text), '$PiiSsnRe')) AS BIGINT) AS n_ssns,
       |  CAST(len(regexp_extract_all(lower(text), '$PiiPhoneRe')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(text),
       |    '$PiiEmailRe', '<email>', 'g'),
       |    '$PiiIpRe', '<ip>', 'g'),
       |    '$PiiSsnRe', '<ssn>', 'g'),
       |    '$PiiPhoneRe', '<phone>', 'g')) AS scrubbed_md5,
       |  len(regexp_extract_all(lower(text), '$PiiEmailRe')) +
       |    len(regexp_extract_all(lower(text), '$PiiIpRe')) +
       |    len(regexp_extract_all(lower(text), '$PiiSsnRe')) +
       |    len(regexp_extract_all(lower(text), '$PiiPhoneRe')) > 0 AS has_pii
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q109: validated PII detectors (checksum / range verification) ------

  /** Candidate patterns for the VALIDATED tier (VERDICT r7 #6). q89
    * counts pattern hits; real scrubbing also verifies — a 16-digit run
    * is only a card number if its Luhn checksum passes, an IPv4 shape is
    * only an address if every octet fits in a byte, an IBAN shape is only
    * an account if its ISO 7064 mod-97 residue is 1. Validation is what
    * separates redacting PII from redacting phone-book page numbers.
    * Same portable-regex subset as q89; the card pattern admits single
    * space/dash separators between digits (13–19 digits total), IBAN
    * matches on the RAW text (uppercase is significant). */
  val PiiCardRe = """\b[0-9](?:[ -]?[0-9]){12,18}\b"""
  val PiiIbanRe = """\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"""

  /** Luhn checksum over a separator-stripped digit string: from the
    * rightmost digit, odd positions add d, even positions add 2d (minus 9
    * above 9); valid iff the total ≡ 0 (mod 10). Pure integer fold over
    * ≤ 19 characters — bit-identical in both engines. */
  private def luhnValid(cand: Column): Column = {
    val digits = regexp_replace(cand, "[ -]", "")
    val n = length(digits)
    val s = aggregate(
      sequence(lit(1), n), lit(0),
      (acc, i) => {
        val d = ascii(digits.substr(n - i + 1, lit(1))) - lit(48)
        acc + when(i % 2 === 1, d)
          .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
      })
    s % 10 === 0
  }

  /** IPv4 range check: every dotted octet parses ≤ 255. */
  private def ipValid(cand: Column): Column =
    forall(split(cand, "\\."), o => o.cast("int") <= 255)

  /** ISO 7064 mod-97 IBAN check: move the first four chars to the end,
    * expand letters to two digits (A = 10 … Z = 35), residue of the
    * resulting number mod 97 must be 1. The fold keeps the accumulator
    * < 97 throughout (digit: acc·10 + d mod 97; letter: acc·100 + v
    * mod 97 — two digits in one exact step), so nothing overflows and
    * every operation is integer arithmetic both engines share. */
  private def ibanValid(cand: Column): Column = {
    val re = concat(cand.substr(lit(5), length(cand) - 4),
      cand.substr(lit(1), lit(4)))
    val m = aggregate(
      sequence(lit(1), length(re)), lit(0),
      (acc, i) => {
        val c = ascii(re.substr(i, lit(1)))
        when(c.between(48, 57), (acc * 10 + (c - lit(48))) % 97)
          .otherwise((acc * 100 + (c - lit(55))) % 97)
      })
    m === 1
  }

  /** q109: per-document validated-PII counts — candidates (pattern hits)
    * next to survivors (checksum/range-verified), per category. The gap
    * between the two columns is the false-positive mass validation
    * removes — the planted-invalid spec (Round8OpsSpec) pins that a
    * checksum-failing lookalike counts as candidate, never as valid.
    * Row-local HOF folds over ≤ 34-char candidates — interpreted, but
    * candidates are rare (a few per document at worst), so the per-row
    * cost is bounded and the 100 TB shape stays one pass, no shuffle
    * beyond the ordered dump (q89's shape). */
  def piiValidated(spark: SparkSession, dir: String): DataFrame = {
    val t = lower(col("text"))
    val cards = regexp_extract_all(t, lit(PiiCardRe), lit(0))
    val ips = regexp_extract_all(t, lit(PiiIpRe), lit(0))
    val ibans = regexp_extract_all(col("text"), lit(PiiIbanRe), lit(0))
    docs(spark, dir).select(col("doc_id"),
        size(cards).cast("long").as("n_card_cand"),
        size(filter(cards, c => luhnValid(c))).cast("long").as("n_card_valid"),
        size(ips).cast("long").as("n_ip_cand"),
        size(filter(ips, c => ipValid(c))).cast("long").as("n_ip_valid"),
        size(ibans).cast("long").as("n_iban_cand"),
        size(filter(ibans, c => ibanValid(c))).cast("long").as("n_iban_valid"))
      .withColumn("has_valid_pii",
        (col("n_card_valid") + col("n_ip_valid") + col("n_iban_valid")) > 0)
      .orderBy("doc_id")
  }

  /** Oracle twin. The checksum folds bind their derived string (stripped
    * digits, rearranged IBAN) as an inner singleton-list lambda variable —
    * DuckDB lambdas can nest, while a correlated scalar subquery inside a
    * lambda cannot reference the lambda parameter. */
  val piiValidatedSql: String = {
    val luhn = """list_sum(list_transform(range(1, length(dg) + 1), i ->
      |      CASE WHEN i % 2 = 1 THEN ascii(substring(dg, length(dg) - i + 1, 1)) - 48
      |           ELSE CASE WHEN 2 * (ascii(substring(dg, length(dg) - i + 1, 1)) - 48) > 9
      |                     THEN 2 * (ascii(substring(dg, length(dg) - i + 1, 1)) - 48) - 9
      |                     ELSE 2 * (ascii(substring(dg, length(dg) - i + 1, 1)) - 48) END
      |      END)) % 10 = 0""".stripMargin
    s"""WITH pv AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '$PiiCardRe') AS cards,
       |    regexp_extract_all(lower(text), '$PiiIpRe') AS ips,
       |    regexp_extract_all(text, '$PiiIbanRe') AS ibans
       |  FROM documents),
       |pc AS (SELECT doc_id,
       |    CAST(len(cards) AS BIGINT) AS n_card_cand,
       |    CAST(len(list_filter(cards, c ->
       |      len(list_filter([regexp_replace(c, '[ -]', '', 'g')], dg ->
       |        $luhn)) = 1)) AS BIGINT)
       |      AS n_card_valid,
       |    CAST(len(ips) AS BIGINT) AS n_ip_cand,
       |    CAST(len(list_filter(ips, c ->
       |      len(list_filter(str_split(c, '.'), o -> o::INT > 255)) = 0)) AS BIGINT)
       |      AS n_ip_valid,
       |    CAST(len(ibans) AS BIGINT) AS n_iban_cand,
       |    CAST(len(list_filter(ibans, c ->
       |      len(list_filter([substring(c, 5) || substring(c, 1, 4)], re ->
       |        list_reduce(list_prepend(0, list_transform(range(1, length(re) + 1),
       |            i -> ascii(substring(re, i, 1)))),
       |          (acc, ch) -> CASE WHEN ch BETWEEN 48 AND 57 THEN (acc * 10 + (ch - 48)) % 97
       |                            ELSE (acc * 100 + (ch - 55)) % 97 END) = 1)) = 1)) AS BIGINT)
       |      AS n_iban_valid
       |  FROM pv)
       |SELECT doc_id, n_card_cand, n_card_valid, n_ip_cand, n_ip_valid,
       |  n_iban_cand, n_iban_valid,
       |  n_card_valid + n_ip_valid + n_iban_valid > 0 AS has_valid_pii
       |FROM pc ORDER BY doc_id""".stripMargin
  }

  // ---- q112: per-source unigram KL divergence (mixture-drift check) -------

  /** q112: KL(P_source ‖ P_corpus) over the unigram distribution, per
    * source — the mixture diagnostic a multi-source corpus runs before
    * setting sampling weights (q88 counts cross-source DUPLICATION; this
    * measures distributional drift): a templated or machine-generated
    * source reads high-KL against the corpus mix, a representative crawl
    * slice reads near zero. No smoothing is needed: every source term
    * has corpus count ≥ its source count, so the log ratio is finite by
    * construction.
    *
    * Scale shape: one (source, term) map-side-combined aggregate (the
    * only corpus-sized shuffle), then vocab-scale regroupings; KL terms
    * p·ln(p/q) are exactly-rounded double arithmetic on integer-ratio
    * operands, DECIMAL(30,8)-accumulated so partition order cannot move
    * the 6th decimal (the q87 moment discipline). */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val scw = docs(spark, dir)
      .select(col("source"), explode(TextOps.tokenize(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c_sw"))
    val sn = scw.groupBy("source")
      .agg(sum("c_sw").as("n_s"), count(lit(1)).as("n_terms"))
    val cw = scw.groupBy("term").agg(sum("c_sw").as("c_w"))
    val nn = cw.agg(sum("c_w").as("n"))
    val p = col("c_sw").cast("double") / col("n_s")
    val q = col("c_w").cast("double") / col("n")
    val kl = scw.join(broadcast(sn), "source").join(cw, "term")
      .crossJoin(broadcast(nn))
      .groupBy("source")
      .agg(dsum(p * log(p / q)).as("kl"))
    val sd = docs(spark, dir).groupBy("source").agg(count(lit(1)).as("n_docs"))
    sd.join(sn, "source").join(kl, "source")
      .select(col("source"), col("n_docs"),
        col("n_s").cast("long").as("n_tokens"), col("n_terms"),
        r6(col("kl")).as("kl_unigram"))
      .orderBy("source")
  }

  val sourceDivergenceSql: String =
    s"""WITH stk2 AS (SELECT source, unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |              FROM documents),
       |scw AS (SELECT source, term, count(*) AS c_sw FROM stk2 GROUP BY 1, 2),
       |ssn AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s,
       |          count(*) AS n_terms FROM scw GROUP BY 1),
       |scww AS (SELECT term, CAST(sum(c_sw) AS BIGINT) AS c_w FROM scw GROUP BY 1),
       |snn AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM scww),
       |skl AS (SELECT source,
       |          CAST(sum(CAST((c_sw::DOUBLE / n_s) *
       |            ln((c_sw::DOUBLE / n_s) / (c_w::DOUBLE / n)) AS DECIMAL(30,8))) AS DOUBLE) AS kl
       |        FROM scw JOIN ssn USING (source) JOIN scww USING (term), snn
       |        GROUP BY source),
       |ssd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
       |SELECT source, n_docs, n_s AS n_tokens, n_terms,
       |  floor(kl * 1000000 + 0.5) / 1000000 AS kl_unigram
       |FROM ssd JOIN ssn USING (source) JOIN skl USING (source)
       |ORDER BY source""".stripMargin

  // ---- q117: per-source document caps (domain-cap curation) ---------------

  /** Per-source keep cap for q117 (binds at every SF on the testdata:
    * sources carry 25 docs at sf0.001/0.01 and 250 at sf0.1). */
  val SourceCap = 20

  /** Salt fan-out for q117's skew-safe two-stage rank. */
  val SourceCapSalts = 8L

  /** q117: the per-domain contribution cap every web-corpus recipe
    * applies (C4 / RefinedWeb cap pages per domain) — no source may
    * contribute more than SourceCap documents, and the kept ones are its
    * BEST by quality: rank within source by (integer micro-score qkey
    * DESC, doc_id ASC), keep rank ≤ cap. Complements q88/q112 (which
    * DIAGNOSE source imbalance; this enforces the bound).
    *
    * Scale shape — the naive formulation is one window partitioned by
    * source, and a mega-source (half the crawl) makes that one hot
    * partition. This runs the standard two-stage rank instead: stage 1
    * ranks within (source, salt = doc_id mod SourceCapSalts) and keeps
    * only rank ≤ cap (any doc in a source's true top-cap is in its salt
    * bucket's top-cap, so no winner is lost); stage 2 ranks exactly over
    * the ≤ salts·cap survivors per source. The hot partition shrinks
    * from |source| rows to ≤ 160, and both windows are deterministic, so
    * the whole derivation unrolls into the oracle. Dropped docs carry
    * src_rank −1 (they never reach stage 2). */
  def sourceCaps(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir).select(col("doc_id"), col("source"))
      .join(qualityFrame(spark, dir).select(col("doc_id"), col("quality_score")), "doc_id")
      .withColumn("qkey", qkeyOf(col("quality_score")))
    val stage1 = scored
      .withColumn("salt", pmod(col("doc_id"), lit(SourceCapSalts)))
      .withColumn("rk0", row_number().over(
        Window.partitionBy(col("source"), col("salt"))
          .orderBy(col("qkey").desc, col("doc_id").asc)))
      .filter(col("rk0") <= SourceCap)
    val stage2 = stage1
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("qkey").desc, col("doc_id").asc)).cast("long"))
      .filter(col("src_rank") <= SourceCap)
      .select(col("doc_id"), col("src_rank"))
    scored.join(stage2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("quality_score"),
        coalesce(col("src_rank"), lit(-1L)).as("src_rank"),
        col("src_rank").isNotNull.as("kept"))
      .orderBy("doc_id")
  }

  val sourceCapsSql: String =
    s"""WITH $qualityCtes,
       |ss AS (SELECT d.doc_id, d.source, qual.quality_score,
       |         CAST(floor(qual.quality_score * 1000000 + 0.5) AS BIGINT) AS qkey
       |       FROM documents d JOIN qual ON d.doc_id = qual.doc_id),
       |ss1 AS (SELECT doc_id, source, qkey FROM (
       |          SELECT doc_id, source, qkey,
       |            row_number() OVER (PARTITION BY source, doc_id % $SourceCapSalts
       |                               ORDER BY qkey DESC, doc_id ASC) AS rk0
       |          FROM ss) WHERE rk0 <= $SourceCap),
       |ss2 AS (SELECT doc_id, src_rank FROM (
       |          SELECT doc_id,
       |            CAST(row_number() OVER (PARTITION BY source
       |                                    ORDER BY qkey DESC, doc_id ASC) AS BIGINT)
       |              AS src_rank
       |          FROM ss1) WHERE src_rank <= $SourceCap)
       |SELECT ss.doc_id, ss.source, ss.quality_score,
       |  coalesce(ss2.src_rank, -1) AS src_rank,
       |  ss2.src_rank IS NOT NULL AS kept
       |FROM ss LEFT JOIN ss2 ON ss.doc_id = ss2.doc_id
       |ORDER BY ss.doc_id""".stripMargin

  // ---- q115: DSIR importance weights (hashed-unigram target matching) -----

  /** Hashed feature-space size for q115. Published DSIR uses hashed
    * n-gram buckets precisely so the parameter vector stays fixed-size
    * when the raw vocabulary doesn't — at 100 TB the bucket tables below
    * are B rows regardless of corpus size. */
  val DsirBuckets = 1024L

  /** The target domain for q115 — the slice whose distribution selection
    * should match. In production this is the trusted corpus (Wikipedia,
    * curated books); on the testdata the `en` slice plays that role. */
  val DsirTargetLang = "en"

  /** Gumbel-top-k resample size for q115. */
  val DsirKeepN = 150

  /** q115: data selection via importance resampling (the DSIR recipe,
    * Xie et al. 2023): estimate hashed-unigram bag-of-words LMs for the
    * target slice and the raw pool, score every raw document with its
    * log importance weight log w(d) = Σ_b c_d(b)·ln(p_target(b)/p_raw(b)),
    * then draw a without-replacement sample ∝ softmax(log w) via
    * deterministic Gumbel-top-k — the published construction for "make
    * the web crawl look like the trusted corpus". Complements q112
    * (which diagnoses per-SOURCE drift; this selects per-DOCUMENT) and
    * q99 (A-ES samples by a metadata weight; this learns the weight
    * from content).
    *
    * Determinism/portability: bucket ids are md5-derived (the q34 shard
    * pattern), add-1 smoothing keeps every log ratio finite, the per-doc
    * weight accumulates in DECIMAL(30,8) so partition order can't move
    * it, and the Gumbel noise g = −ln(−ln(u)) draws u from the exact
    * md5→2⁵² uniform (salted 'dsir:' so it is independent of q99's draw).
    * kept is decided on the RAW key in a subquery (the q99 alias
    * lesson); outputs are r6-rounded.
    *
    * Scale shape: ONE corpus-keyed shuffle — the (doc_id, bucket) count
    * aggregate (map-side combined); both LM tables collapse to B=1024
    * rows and broadcast back; the Gumbel top-N is TakeOrdered. Nothing
    * global, nothing driver-side. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val db = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(TextOps.tokenize(col("text"))).as("term"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long") %
          DsirBuckets).as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c_db"))
    val tgt = db.filter(col("lang") === DsirTargetLang)
      .groupBy("b").agg(sum("c_db").as("c_t"))
    val raw = db.groupBy("b").agg(sum("c_db").as("c_r"))
    val nT = tgt.agg(sum("c_t").as("n_t"))
    val nR = raw.agg(sum("c_r").as("n_r"))
    // B-row smoothed log-ratio table: ln(p_t(b)/p_r(b)) with add-1 over
    // the B buckets (tgt is left-joined so empty buckets smooth to 1).
    val ratio = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
      .select(col("b"), log(
        ((coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_t") + lit(DsirBuckets)).cast("double")) /
        ((col("c_r") + lit(1L)).cast("double") /
          (col("n_r") + lit(DsirBuckets)).cast("double"))).as("lr"))
    val logw = db.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(dsum(col("c_db").cast("double") * col("lr")).as("logw"),
        sum("c_db").as("n_tokens"))
    val keyed = docs(spark, dir).select(col("doc_id"), col("lang"))
      .join(logw, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).cast("long").as("n_tokens"),
        coalesce(col("logw"), lit(0.0)).as("logw"),
        conv(substring(md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 13),
          16, 10).cast("long").as("h"))
      .withColumn("skey", coalesce(col("logw"), lit(0.0)) -
        log(-log((col("h").cast("double") + lit(0.5)) / lit(UDenom))))
    val ranked = keyed.withColumn("rk",
      row_number().over(Window.orderBy(col("skey").desc, col("doc_id").asc)))
    ranked.select(col("doc_id"), col("lang"), col("n_tokens"),
        r6(col("logw")).as("log_weight"), r6(col("skey")).as("skey"),
        (col("rk") <= DsirKeepN).as("kept"))
      .orderBy("doc_id")
  }

  val dsirWeightsSql: String =
    s"""WITH wtk AS (SELECT doc_id, lang,
       |    unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |  FROM documents),
       |wdb AS (SELECT doc_id, lang,
       |    CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) % $DsirBuckets AS b,
       |    count(*) AS c_db
       |  FROM wtk GROUP BY 1, 2, 3),
       |wtgt AS (SELECT b, CAST(sum(c_db) AS BIGINT) AS c_t FROM wdb
       |         WHERE lang = '$DsirTargetLang' GROUP BY b),
       |wraw AS (SELECT b, CAST(sum(c_db) AS BIGINT) AS c_r FROM wdb GROUP BY b),
       |wnt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM wtgt),
       |wnr AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r FROM wraw),
       |wlr AS (SELECT b,
       |    ln(((coalesce(c_t, 0) + 1)::DOUBLE / (n_t + $DsirBuckets)) /
       |       ((c_r + 1)::DOUBLE / (n_r + $DsirBuckets))) AS lr
       |  FROM wraw LEFT JOIN wtgt USING (b), wnt, wnr),
       |wlw AS (SELECT doc_id,
       |    CAST(sum(CAST(c_db::DOUBLE * lr AS DECIMAL(30,8))) AS DOUBLE) AS logw,
       |    CAST(sum(c_db) AS BIGINT) AS n_tokens
       |  FROM wdb JOIN wlr USING (b) GROUP BY doc_id),
       |wk AS (SELECT d.doc_id, d.lang,
       |    coalesce(n_tokens, 0) AS n_tokens, coalesce(logw, 0.0) AS logw,
       |    coalesce(logw, 0.0) - ln(-ln(
       |      (CAST(CAST(('0x' || substring(md5('dsir:' || d.doc_id::VARCHAR), 1, 13))
       |         AS BIGINT) AS DOUBLE) + 0.5) / $UDenom)) AS skey_raw
       |  FROM documents d LEFT JOIN wlw USING (doc_id)),
       |wrk AS (SELECT doc_id, lang, n_tokens, logw, skey_raw,
       |    row_number() OVER (ORDER BY skey_raw DESC, doc_id ASC) AS rk
       |  FROM wk)
       |SELECT doc_id, lang, n_tokens,
       |  floor(logw * 1000000 + 0.5) / 1000000 AS log_weight,
       |  floor(skey_raw * 1000000 + 0.5) / 1000000 AS skey,
       |  rk <= $DsirKeepN AS kept
       |FROM wrk ORDER BY doc_id""".stripMargin

  // ---- q120: temperature-scaled mixture weights ---------------------------

  /** q120: the per-source sampling-mixture table a training run actually
    * consumes — α = 0.5 temperature weights w_s = √n_s / Σ√n_t (the
    * q46 √-scaling, per SOURCE, as an explicit artifact rather than a
    * resample), each source's token draw under the half-corpus training
    * budget, and the implied EPOCH count drawn/n_s — the number that
    * says "this tail source will repeat 3× while the head source is
    * seen once", i.e. the over-sampling a mixture designer is actually
    * signing up for. Closes the mixture loop: q88 measures cross-source
    * duplication, q112 measures drift, q117 caps contributions, this
    * emits the weights.
    *
    * Scale shape: one (source)-keyed map-side-combined aggregate over
    * the corpus, then all arithmetic on the |sources|-row frame against
    * a broadcast 1-row total. √ is exactly rounded IEEE in both engines
    * and the √-sum accumulates in DECIMAL, so weights agree to the last
    * bit; draws use an integer half-total budget (DIV 2 / //). */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val src = docs(spark, dir)
      .select(col("source"), size(TextOps.tokenize(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    val tot = src.agg(sum("n_tokens").as("tot"),
      dsum(sqrt(col("n_tokens").cast("double"))).as("ssq"))
    src.crossJoin(broadcast(tot))
      .withColumn("w", sqrt(col("n_tokens").cast("double")) / col("ssq"))
      .withColumn("budget", expr("CAST(tot DIV 2 AS BIGINT)"))
      .withColumn("drawn",
        floor(col("w") * col("budget").cast("double")).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r6(col("w")).as("weight"), col("drawn").as("tokens_drawn"),
        r6(col("drawn").cast("double") / col("n_tokens").cast("double")).as("epochs"))
      .orderBy("source")
  }

  val mixtureWeightsSql: String =
    s"""WITH mt AS (SELECT source,
       |    len(regexp_extract_all(lower(text), '$TokRe')) AS n FROM documents),
       |ms AS (SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
       |       FROM mt GROUP BY source),
       |mtot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
       |           CAST(sum(CAST(sqrt(n_tokens::DOUBLE) AS DECIMAL(30,8))) AS DOUBLE) AS ssq
       |         FROM ms),
       |mw AS (SELECT source, n_docs, n_tokens,
       |         sqrt(n_tokens::DOUBLE) / ssq AS w,
       |         CAST(floor((sqrt(n_tokens::DOUBLE) / ssq) *
       |           CAST(tot // 2 AS DOUBLE)) AS BIGINT) AS drawn
       |       FROM ms, mtot)
       |SELECT source, n_docs, n_tokens,
       |  floor(w * 1000000 + 0.5) / 1000000 AS weight,
       |  drawn AS tokens_drawn,
       |  floor((drawn::DOUBLE / n_tokens) * 1000000 + 0.5) / 1000000 AS epochs
       |FROM mw ORDER BY source""".stripMargin

  // ---- q87: Zipf slope (corpus-health diagnostic) -------------------------

  /** Least-squares fit of ln(term frequency) against ln(frequency rank) —
    * the Zipf exponent. A healthy natural-language corpus sits near −1;
    * drift toward 0 means boilerplate/templating flattened the
    * distribution, steeper means vocabulary collapse — the one-row
    * diagnostic a pipeline tracks per ingest batch. Reports the slope,
    * intercept, and R² of the log-log fit plus vocabulary size.
    *
    * Shapes: the term count is the standard map-side-combined aggregate;
    * ranking is ONE window over the vocab-sized count frame (metadata
    * scale, like q78's histogram — at a 10⁸-term vocab rank two-stage:
    * per-partition ranks + broadcast partition offsets, same answer);
    * the five fit moments accumulate in DECIMAL (dsum) so partition
    * order can't move the closed-form division inputs. All post-moment
    * arithmetic is scalar double on identical operands in both engines. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val cnt = docs(spark, dir)
      .select(explode(TextOps.tokenize(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val xy = cnt
      .withColumn("rk",
        row_number().over(Window.orderBy(col("c").desc, col("term"))).cast("long"))
      .select(log(col("rk").cast("double")).as("x"), log(col("c").cast("double")).as("y"))
    val m = xy.agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"), dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    m.select(col("n").as("n_terms"),
      r6(when(dxx === 0.0, 0.0).otherwise(dxy / dxx)).as("slope"),
      r6(when(dxx === 0.0, 0.0)
        .otherwise((col("sy") - (dxy / dxx) * col("sx")) / col("n"))).as("intercept"),
      r6(when(dxx === 0.0 || dyy === 0.0, 0.0)
        .otherwise(dxy * dxy / (dxx * dyy))).as("r2"))
  }

  val zipfSlopeSql: String =
    s"""WITH ztk AS (SELECT unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |             FROM documents),
       |zc AS (SELECT term, count(*) AS c FROM ztk GROUP BY term),
       |zr AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, term) AS DOUBLE)) AS x,
       |         ln(c::DOUBLE) AS y FROM zc),
       |zm AS (SELECT count(*) AS n,
       |         CAST(sum(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS sx,
       |         CAST(sum(CAST(y AS DECIMAL(30,8))) AS DOUBLE) AS sy,
       |         CAST(sum(CAST(x * y AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
       |         CAST(sum(CAST(x * x AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
       |         CAST(sum(CAST(y * y AS DECIMAL(30,8))) AS DOUBLE) AS syy
       |       FROM zr)
       |SELECT n AS n_terms,
       |  floor((CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
       |              ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * 1000000 + 0.5)
       |    / 1000000 AS slope,
       |  floor((CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
       |              ELSE (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END)
       |    * 1000000 + 0.5) / 1000000 AS intercept,
       |  floor((CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
       |              ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy) /
       |                ((n * sxx - sx * sx) * (n * syy - sy * sy)) END) * 1000000 + 0.5)
       |    / 1000000 AS r2
       |FROM zm""".stripMargin

  // ---- q91: in-engine trained quality classifier (logistic GD) ------------

  /** Learning rate, iteration count, and weak-label threshold for
    * [[qualityLrModel]] — all FIXED so the whole training run unrolls into
    * the DuckDB oracle (lrCtes), exactly like SimilarityOps.kmeansCtes.
    * Picked by a dev sweep over (eta, iters) at three scale factors:
    * accuracy 0.96 / 0.96 / 0.95 at sf0.001 / 0.01 / 0.1 — the plateau of
    * the standardized-feature model. */
  val LrEta = 4.0
  val LrIters = 8
  val LrLabelThreshold = 0.8

  /** DECIMAL(38,18)-accumulated sum surfaced as double — the k-means
    * precision (package.dsum's DECIMAL(30,8) is too coarse for gradient
    * terms of order 1e-3 · 1e-3). Order-independent, so Spark partition
    * parallelism and DuckDB's serial scan agree bit-for-bit. */
  private def dsum18(c: Column): Column = sum(c.cast("decimal(38,18)")).cast("double")

  /** Rational squashing function σ(z) = 0.5 + z / (2·(1+|z|)).
    *
    * Deliberately NOT exp-based: IEEE 754 specifies exact rounding for
    * + − × ÷ |·| but not for exp(), so a logistic sigmoid could diverge
    * between engines in the last ulp and flip a prediction. This sigmoid
    * is built only from exactly-rounded ops — identical inputs give
    * identical outputs in Spark and DuckDB — while keeping the shape GD
    * needs (monotone, (0,1), σ(0)=0.5). */
  private def sigma(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** Raw classifier features in [0,1] + weak label, derived from the SAME
    * q30 quality frame the label comes from — but the label collapses the
    * features through fixed weights, so recovering it from the four raw
    * coordinates is a genuine (if easy) linear-separation problem. */
  private def lrRaw(spark: SparkSession, dir: String): DataFrame =
    lrRawFromQuality(qualityFrame(spark, dir))

  /** [[lrRaw]] over ANY (doc_id, text) frame — the one definition of the
    * classifier's raw feature coordinates, shared by batch training,
    * frozen-model batch serving, and the streaming quality gate. */
  private[graft] def lrRawOf(d: DataFrame): DataFrame =
    lrRawFromQuality(qualityFrameOf(d))

  /** The raw-feature projection over a quality frame — row-local, so the
    * (appId, dir) path rides the memoized [[qualityFrame]] while the
    * streaming gate and split populations derive from their own frames
    * through the SAME select (zero drift by construction). */
  private def lrRawFromQuality(q: DataFrame): DataFrame =
    q.select(
      col("doc_id"),
      col("n_tokens"),
      least(lit(1.0), col("n_tokens").cast("double") / 50.0).as("r1"),
      col("sr").as("r2"),
      least(lit(1.0), col("atl") / 8.0).as("r3"),
      col("dr").as("r4"),
      when(col("quality_score") >= LrLabelThreshold, 1.0).otherwise(0.0).as("y"))

  /** One-row standardization-stat frame (m1..m4, s1..s4) — population
    * mean/std of the raw features. Part of the persisted model artifact:
    * a frozen model must standardize NEW corpora with TRAINING statistics,
    * not re-derive them from the data being scored. Memoized per
    * (appId, dir) since r18 — these ARE training statistics (the
    * docstring's own argument), yet every scoring consumer (q94/q95/q96/
    * q108/q132's train side) re-aggregated the corpus twice per
    * invocation to rebuild the same 8 numbers the trained model ships
    * with. */
  private val lrStatsCache = Memo.frame()

  private def lrStats(spark: SparkSession, dir: String): DataFrame =
    lrStatsCache.getOrElseUpdateSync(s"${spark.sparkContext.applicationId}:$dir",
      lrStatsOf(lrRaw(spark, dir)).localCheckpoint(true))

  /** [[lrStats]] over ANY raw-feature population — the q132 holdout
    * evaluation trains on the train split only, so its standardization
    * stats must come from that population alone. */
  private def lrStatsOf(raw: DataFrame): DataFrame = {
    val mu = raw.agg(
      (dsum18(col("r1")) / count(lit(1))).as("m1"),
      (dsum18(col("r2")) / count(lit(1))).as("m2"),
      (dsum18(col("r3")) / count(lit(1))).as("m3"),
      (dsum18(col("r4")) / count(lit(1))).as("m4"))
    val sd = raw.crossJoin(broadcast(mu)).agg(
      sqrt(dsum18((col("r1") - col("m1")) * (col("r1") - col("m1"))) / count(lit(1))).as("s1"),
      sqrt(dsum18((col("r2") - col("m2")) * (col("r2") - col("m2"))) / count(lit(1))).as("s2"),
      sqrt(dsum18((col("r3") - col("m3")) * (col("r3") - col("m3"))) / count(lit(1))).as("s3"),
      sqrt(dsum18((col("r4") - col("m4")) * (col("r4") - col("m4"))) / count(lit(1))).as("s4"))
    mu.crossJoin(sd)
  }

  /** Z-score against a 1-row stats frame (zero-guard). */
  private def zCol(r: String, m: String, s: String): Column =
    when(col(s) === 0.0, 0.0).otherwise((col(r) - col(m)) / col(s))

  /** Z-scored features (population std, zero-guard). Standardization is
    * what makes plain batch GD converge here — the raw coordinates differ
    * 10× in variance and the unstandardized sweep plateaued at 0.84. */
  private def lrFeats(spark: SparkSession, dir: String): DataFrame =
    lrFeatsOf(lrRaw(spark, dir), lrStats(spark, dir))

  /** Standardize ANY raw-feature population against a GIVEN 1-row stats
    * frame — scoring a holdout with the train split's frozen statistics
    * is exactly the [[scoreWithQualityModel]] discipline in-session. */
  private def lrFeatsOf(raw: DataFrame, stats: DataFrame): DataFrame =
    raw.crossJoin(broadcast(stats)).select(
      col("doc_id"), col("n_tokens"), col("y"),
      zCol("r1", "m1", "s1").as("x1"), zCol("r2", "m2", "s2").as("x2"),
      zCol("r3", "m3", "s3").as("x3"), zCol("r4", "m4", "s4").as("x4"))

  private val lrCache = Memo.plain[Array[Double]]()

  /** Fixed-iteration batch-gradient-descent logistic regression:
    * w ← w + η · mean((y − σ(w·x)) · x), LrIters rounds from w = 0.
    *
    * Scale shape — textbook distributed batch GD: per iteration the ONLY
    * cluster work is one map-side-combined aggregate collapsing the corpus
    * to a 5-double gradient (DECIMAL-accumulated, so partition order can't
    * move it); the driver holds the 5-double model and re-broadcasts it as
    * literals. At 100 TB that is 8 scans with tree-reduced partial
    * aggregates and zero shuffled rows. The 1-row head() per round is the
    * sanctioned scalar-read pattern (cf. CorpusIndex stats). Memoized per
    * (appId, dir) like kmeansModel. */
  def qualityLrModel(spark: SparkSession, dir: String): Array[Double] =
    lrCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$dir",
      lrTrainOn(lrFeats(spark, dir)))

  /** The GD loop over a GIVEN standardized-feature population (q132
    * trains on the train split only). */
  private def lrTrainOn(featsIn: DataFrame): Array[Double] = {
      val feats = featsIn.cache()
      var w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
      try {
        for (_ <- 1 to LrIters) {
          val zc = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
            lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
          val p = sigma(zc)
          val g = feats.agg(
            (dsum18(col("y") - p) / count(lit(1))).as("gb"),
            (dsum18((col("y") - p) * col("x1")) / count(lit(1))).as("g1"),
            (dsum18((col("y") - p) * col("x2")) / count(lit(1))).as("g2"),
            (dsum18((col("y") - p) * col("x3")) / count(lit(1))).as("g3"),
            (dsum18((col("y") - p) * col("x4")) / count(lit(1))).as("g4")).head()
          w = Array.tabulate(5)(i => w(i) + LrEta * g.getDouble(i))
        }
      } finally feats.unpersist()
      w
  }

  /** The complete persisted model: one row
    * (m1..m4, s1..s4, b, w1..w4) — standardization stats AND weights.
    * What `graft.TrainQualityModel` writes; [[scoreWithQualityModel]]
    * consumes it with zero training or corpus statistics at serve time. */
  def qualityModelArtifact(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityLrModel(spark, dir)
    lrStats(spark, dir)
      .withColumn("b", lit(w(0)))
      .withColumn("w1", lit(w(1))).withColumn("w2", lit(w(2)))
      .withColumn("w3", lit(w(3))).withColumn("w4", lit(w(4)))
  }

  /** Serve path: score ANY corpus with a frozen model row — raw features
    * are row-local, standardization uses the model's TRAINING stats (not
    * the scored corpus's), and the 1-row model broadcast-joins in. No
    * aggregate touches the scored corpus at all: the whole query is one
    * codegen'd projection pass. */
  def scoreWithQualityModel(spark: SparkSession, dir: String,
      model: DataFrame): DataFrame = {
    val zc = col("b") +
      col("w1") * zCol("r1", "m1", "s1") + col("w2") * zCol("r2", "m2", "s2") +
      col("w3") * zCol("r3", "m3", "s3") + col("w4") * zCol("r4", "m4", "s4")
    val p = sigma(zc)
    lrRaw(spark, dir).crossJoin(broadcast(model)).select(
      col("doc_id"),
      r6(p).as("p_quality"),
      when(p >= 0.5, 1L).otherwise(0L).as("pred_label"))
      .orderBy("doc_id")
  }

  /** Literal-model scoring columns (p_quality[r6], pred_label) from a
    * collected model row — for the streaming quality gate, which inlines
    * the 13 doubles as literals so scoring is a stateless row-local
    * projection over [[lrRawOf]] output. Bit-identical to
    * [[scoreWithQualityModel]] by construction: same raw features, same
    * zero-guarded z-score, same σ. */
  def scoreColumnsFor(model: org.apache.spark.sql.Row): (Column, Column) = {
    def g(n: String) = model.getAs[Double](n)
    def z(r: String, m: Double, s: Double): Column =
      if (s == 0.0) lit(0.0) else (col(r) - lit(m)) / lit(s)
    val zc = lit(g("b")) +
      lit(g("w1")) * z("r1", g("m1"), g("s1")) +
      lit(g("w2")) * z("r2", g("m2"), g("s2")) +
      lit(g("w3")) * z("r3", g("m3"), g("s3")) +
      lit(g("w4")) * z("r4", g("m4"), g("s4"))
    val p = sigma(zc)
    (r6(p), when(p >= 0.5, 1L).otherwise(0L))
  }

  /** q91: score every document with the in-engine-trained classifier.
    * Output: (doc_id, weak_label, p_quality[r6], pred_label) — pred flips
    * on the UNROUNDED probability, which both engines compute identically
    * by the σ/DECIMAL construction above. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityLrModel(spark, dir)
    val zc = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
    val p = sigma(zc)
    lrFeats(spark, dir).select(
      col("doc_id"),
      col("y").cast("long").as("weak_label"),
      r6(p).as("p_quality"),
      when(p >= 0.5, 1L).otherwise(0L).as("pred_label"))
      .orderBy("doc_id")
  }

  /** Unrolled training oracle (expects qualityCtes in scope): mirrors
    * lrFeats + qualityLrModel round for round, ending in
    * lscored(doc_id, y, p). */
  /** The full-corpus raw-feature CTE (the default training population). */
  private val lrawFromQualCte: String =
    s"""lraw AS (SELECT doc_id, n_tokens,
       |  least(1.0, n_tokens / 50.0) AS r1, sr AS r2,
       |  least(1.0, atl / 8.0) AS r3, dr AS r4,
       |  CASE WHEN quality_score >= $LrLabelThreshold THEN 1.0 ELSE 0.0 END AS y
       |FROM qual)""".stripMargin

  /** The lrCtes chain with a CALLER-SUPPLIED training population `lraw`
    * CTE — q132 trains on the q76 train split; every other oracle uses
    * the full-corpus default (emitted text unchanged). */
  private def lrCtesFrom(lrawCte: String): String = {
    val header = Seq(
      lrawCte,
      """lmu AS (SELECT
        |  CAST(sum(CAST(r1 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m1,
        |  CAST(sum(CAST(r2 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m2,
        |  CAST(sum(CAST(r3 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m3,
        |  CAST(sum(CAST(r4 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS m4
        |FROM lraw)""".stripMargin,
      """lsd AS (SELECT
        |  sqrt(CAST(sum(CAST((r1-m1)*(r1-m1) AS DECIMAL(38,18))) AS DOUBLE) / count(*)) AS s1,
        |  sqrt(CAST(sum(CAST((r2-m2)*(r2-m2) AS DECIMAL(38,18))) AS DOUBLE) / count(*)) AS s2,
        |  sqrt(CAST(sum(CAST((r3-m3)*(r3-m3) AS DECIMAL(38,18))) AS DOUBLE) / count(*)) AS s3,
        |  sqrt(CAST(sum(CAST((r4-m4)*(r4-m4) AS DECIMAL(38,18))) AS DOUBLE) / count(*)) AS s4
        |FROM lraw, lmu)""".stripMargin,
      """lfe AS (SELECT doc_id, n_tokens, y,
        |  CASE WHEN s1 = 0.0 THEN 0.0 ELSE (r1-m1)/s1 END AS x1,
        |  CASE WHEN s2 = 0.0 THEN 0.0 ELSE (r2-m2)/s2 END AS x2,
        |  CASE WHEN s3 = 0.0 THEN 0.0 ELSE (r3-m3)/s3 END AS x3,
        |  CASE WHEN s4 = 0.0 THEN 0.0 ELSE (r4-m4)/s4 END AS x4
        |FROM lraw, lmu, lsd)""".stripMargin,
      "lw0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)")
    val rounds = (1 to LrIters).flatMap { t =>
      Seq(
        s"""lp$t AS (SELECT doc_id, y, x1, x2, x3, x4,
           |  0.5 + z / (2.0 * (1.0 + abs(z))) AS p
           |FROM (SELECT f.*, w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4 AS z
           |      FROM lfe f, lw${t - 1} w))""".stripMargin,
        s"""lg$t AS (SELECT
           |  CAST(sum(CAST((y-p) AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS gb,
           |  CAST(sum(CAST((y-p)*x1 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS g1,
           |  CAST(sum(CAST((y-p)*x2 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS g2,
           |  CAST(sum(CAST((y-p)*x3 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS g3,
           |  CAST(sum(CAST((y-p)*x4 AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS g4
           |FROM lp$t)""".stripMargin,
        s"""lw$t AS (SELECT w.b + $LrEta*g.gb AS b, w.w1 + $LrEta*g.g1 AS w1,
           |  w.w2 + $LrEta*g.g2 AS w2, w.w3 + $LrEta*g.g3 AS w3, w.w4 + $LrEta*g.g4 AS w4
           |FROM lw${t - 1} w, lg$t g)""".stripMargin)
    }
    val tail =
      s"""lscored AS (SELECT doc_id, n_tokens, y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
         |FROM (SELECT f.doc_id, f.n_tokens, f.y,
         |        w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4 AS z
         |      FROM lfe f, lw$LrIters w))""".stripMargin
    (header ++ rounds :+ tail).mkString(",\n")
  }

  private val lrCtes: String = lrCtesFrom(lrawFromQualCte)

  val qualityClassifierSql: String =
    s"""WITH $qualityCtes,
       |$lrCtes
       |SELECT doc_id, CAST(y AS BIGINT) AS weak_label,
       |  floor(p * 1000000 + 0.5) / 1000000 AS p_quality,
       |  CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred_label
       |FROM lscored ORDER BY doc_id""".stripMargin

  // ---- q94: budget curation ranked by the LEARNED quality probability -----

  /** q94: the q78 greedy budget fill, but ranked by the q91 classifier's
    * probability instead of the heuristic score — the composition a real
    * recipe runs once a trained filter replaces hand-tuned heuristics
    * (keep the best half of the corpus BY MODEL OPINION). Bucket key is
    * the integer micro-score of r6(p); p is bit-identical cross-engine by
    * the σ/DECIMAL construction, so bucket membership is integer-derived.
    * Shares [[budgetFill]] with q78 — same histogram decomposition, no
    * single-partition corpus pass — and the memoized [[qualityLrModel]]
    * with q91 (one training run serves both). */
  def learnedBudgetCuration(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityLrModel(spark, dir)
    val zc = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
    val scored = lrFeats(spark, dir).select(
      col("doc_id"), col("n_tokens"), r6(sigma(zc)).as("p_quality"))
    budgetFill(scored.withColumn("qkey", qkeyOf(col("p_quality"))), "p_quality")
  }

  val learnedBudgetCurationSql: String =
    s"""WITH $qualityCtes,
       |$lrCtes,
       |lq AS (SELECT doc_id, n_tokens,
       |         floor(p * 1000000 + 0.5) / 1000000 AS p_quality
       |       FROM lscored),
       |${budgetFillSql("lq", "p_quality")}""".stripMargin

  // ---- q95: classifier calibration (reliability by probability decile) ----

  /** q95: the reliability table every deployed filter ships with — bin the
    * classifier's probability into deciles and compare predicted
    * confidence (mean p) with the observed positive rate per bin. Binning
    * uses the UNROUNDED p (bit-identical cross-engine by the σ
    * construction), and σ < 1 strictly, so floor(p·10) ∈ [0, 9] with no
    * boundary clamp. One map-side-combined aggregate over ≤ 10 keys;
    * pos_rate is an integer ratio (exact in both engines), mean_p rides
    * the DECIMAL(38,18) accumulator. */
  def classifierCalibration(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityLrModel(spark, dir)
    val zc = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
    val p = sigma(zc)
    lrFeats(spark, dir).select(col("y"), p.as("p"))
      .groupBy(floor(col("p") * 10).cast("long").as("p_decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("y")).cast("long").as("n_pos"),
        r6(dsum18(col("p")) / count(lit(1))).as("mean_p"),
        r6(sum(col("y")) / count(lit(1))).as("pos_rate"))
      .orderBy("p_decile")
  }

  val classifierCalibrationSql: String =
    s"""WITH $qualityCtes,
       |$lrCtes
       |SELECT CAST(floor(p * 10) AS BIGINT) AS p_decile,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       |  floor((CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) / count(*))
       |        * 1000000 + 0.5) / 1000000 AS mean_p,
       |  floor((sum(y) / count(*)) * 1000000 + 0.5) / 1000000 AS pos_rate
       |FROM lscored GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q108: calibrated curation threshold + ECE --------------------------

  /** The candidate table behind q108: per probability decile of the q91
    * classifier (q95's bins), document/positive/token totals plus the
    * cumulative-from-the-top sums, the q94 token budget (half the corpus
    * total, integer-derived), and the scalar expected calibration error.
    * Metadata-scale end to end — ≤ 10 rows after one map-side-combined
    * corpus aggregate. Exposed for the Round8OpsSpec tie to q95. */
  private[graft] def thresholdCandidates(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityLrModel(spark, dir)
    val zc = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
    val p = sigma(zc)
    val dec = lrFeats(spark, dir)
      .select(col("y"), col("n_tokens"), p.as("p"))
      .groupBy(floor(col("p") * 10).cast("long").as("p_decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("y")).cast("long").as("n_pos"),
        sum(col("n_tokens")).cast("long").as("tok"),
        dsum18(col("p")).as("psum"))
    val wTop = Window.orderBy(col("p_decile").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(col("p_decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // ECE term per bin: (n_b/N)·|pos_rate_b − mean_p_b|, DECIMAL(30,8)-
    // accumulated over the ≤ 10 bins so summation order is irrelevant.
    val nAll = sum(col("n_docs")).over(wAll)
    dec
      .withColumn("cum_docs", sum(col("n_docs")).over(wTop).cast("long"))
      .withColumn("cum_pos", sum(col("n_pos")).over(wTop).cast("long"))
      .withColumn("cum_tok", sum(col("tok")).over(wTop).cast("long"))
      .withColumn("cum_psum", sum(col("psum")).over(wTop))
      .withColumn("tot_tok", sum(col("tok")).over(wAll).cast("long"))
      .withColumn("budget", expr("CAST(tot_tok DIV 2 AS BIGINT)"))
      .withColumn("ece",
        sum((((col("n_docs").cast("double") / nAll) *
          abs(col("n_pos").cast("double") / col("n_docs") -
            col("psum") / col("n_docs")))).cast("decimal(30,8)"))
          .over(wAll).cast("double"))
  }

  /** q108: the calibrated operating threshold — the number a deployed
    * curation pipeline actually tunes (VERDICT r7 #4). Candidate
    * thresholds are the decile boundaries of q95's reliability table;
    * keeping docs with p ≥ d/10 keeps the top deciles whole, and the
    * chosen operating point is the LOWEST candidate whose kept token
    * mass still fits the q94 budget (half the corpus total) — i.e. the
    * p-cutoff that spends the whole budget on the highest-probability
    * documents, the threshold form of q94's greedy fill. Emits one row:
    * the threshold, kept document/token totals against the budget, the
    * kept set's observed positive rate and mean predicted p (the two
    * numbers whose agreement q95 certifies), and the scalar expected
    * calibration error ECE = Σ_b (n_b/N)·|pos_rate_b − mean_p_b| — the
    * one-number summary of q95's table.
    *
    * Every selector is integer-derived (decile keys, token sums, integer
    * budget); the emitted ratios are exactly-rounded double divisions
    * r6'd at the edge, and the ECE accumulates in DECIMAL — fully
    * oracle-able, like q95/q96. */
  def calibratedThreshold(spark: SparkSession, dir: String): DataFrame =
    thresholdCandidates(spark, dir)
      .filter(col("cum_tok") <= col("budget"))
      .orderBy(col("p_decile").asc)
      .limit(1)
      .select(
        (col("p_decile").cast("double") / 10.0).as("threshold"),
        col("cum_docs").as("kept_docs"),
        col("cum_tok").as("kept_tokens"),
        col("budget"),
        r6(col("cum_pos").cast("double") / col("cum_docs")).as("kept_pos_rate"),
        r6(col("cum_psum") / col("cum_docs")).as("kept_mean_p"),
        r6(col("ece")).as("ece"))

  val calibratedThresholdSql: String =
    s"""WITH $qualityCtes,
       |$lrCtes,
       |cdec AS (SELECT CAST(floor(p * 10) AS BIGINT) AS p_decile,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       |    CAST(sum(n_tokens) AS BIGINT) AS tok,
       |    CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS psum
       |  FROM lscored GROUP BY 1),
       |ctot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nall,
       |    CAST(sum(tok) // 2 AS BIGINT) AS budget
       |  FROM cdec),
       |cece AS (SELECT CAST(sum(CAST(
       |      (CAST(n_docs AS DOUBLE) / nall) *
       |        abs(CAST(n_pos AS DOUBLE) / n_docs - psum / n_docs)
       |    AS DECIMAL(30,8))) AS DOUBLE) AS ece
       |  FROM cdec, ctot),
       |ccand AS (SELECT p_decile,
       |    CAST(sum(n_docs) OVER wt AS BIGINT) AS cum_docs,
       |    CAST(sum(n_pos) OVER wt AS BIGINT) AS cum_pos,
       |    CAST(sum(tok) OVER wt AS BIGINT) AS cum_tok,
       |    sum(psum) OVER wt AS cum_psum
       |  FROM cdec
       |  WINDOW wt AS (ORDER BY p_decile DESC ROWS UNBOUNDED PRECEDING))
       |SELECT p_decile / 10.0 AS threshold,
       |  cum_docs AS kept_docs, cum_tok AS kept_tokens, budget,
       |  floor((CAST(cum_pos AS DOUBLE) / cum_docs) * 1000000 + 0.5) / 1000000 AS kept_pos_rate,
       |  floor((cum_psum / cum_docs) * 1000000 + 0.5) / 1000000 AS kept_mean_p,
       |  floor(ece * 1000000 + 0.5) / 1000000 AS ece
       |FROM ccand, ctot, cece WHERE cum_tok <= budget
       |ORDER BY p_decile ASC LIMIT 1""".stripMargin

  // ---- q96: classifier ranking quality (exact AUC, histogram-decomposed) --

  /** q96: threshold-free ranking quality of the learned filter — the
    * Mann-Whitney AUC of the q91 classifier probability against its weak
    * labels, with the standard tie treatment (a tied positive/negative
    * pair counts ½). AUC is THE number a curation team reads before
    * trusting a filter to rank 100 TB: calibration (q95) says the
    * probabilities mean what they claim; AUC says the ORDERING works.
    *
    * Scale shape — the q78 histogram decomposition applied to a rank
    * statistic: scores quantize to the integer micro-score key
    * qkey = floor(r6(p)·10⁶ + 0.5) (AUC of the quantized score is the
    * declared statistic — deterministic cross-engine, and the 10⁻⁶ grid
    * is far below any decision-relevant resolution), one
    * map-side-combined groupBy collapses the corpus to ≤ 10⁶ + 1 integer
    * keys with (pos, neg) counts, and the prefix-negative window runs on
    * that METADATA-SCALE histogram — never on the corpus. With per-key
    * counts the pair sum is Σ_k pos_k·(cumneg_k + neg_k/2); doubling
    * keeps every term integer: 2·num = Σ_k pos_k·(2·cumneg_k + neg_k),
    * DECIMAL(38,0)-accumulated (pair counts overflow BIGINT long before
    * they overflow 38 digits), so both engines agree bit-for-bit and the
    * ONE double division at the end is exactly rounded, then r6'd. */
  def classifierAuc(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityLrModel(spark, dir)
    val zc = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
    aucOf(lrFeats(spark, dir).select(sigma(zc).as("p"), col("y")))
  }

  /** The exact tie-aware AUC of ANY (p unrounded, y) frame — the
    * histogram machinery above factored so q96 (full-corpus) and q132
    * (train/holdout populations) share one implementation. Returns one
    * row (n_pos, n_neg, n_keys, auc[r6]). */
  private def aucOf(scored: DataFrame): DataFrame = {
    val hist = scored
      .select(qkeyOf(r6(col("p"))).as("qkey"), col("y"))
      .groupBy("qkey")
      .agg(sum(col("y")).cast("long").as("pos"),
        sum(lit(1.0) - col("y")).cast("long").as("neg"))
    val below = Window.orderBy("qkey")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cumneg", coalesce(sum(col("neg")).over(below), lit(0L)))
      .agg(
        sum(col("pos")).cast("long").as("n_pos"),
        sum(col("neg")).cast("long").as("n_neg"),
        count(lit(1)).as("n_keys"),
        sum(col("pos").cast("decimal(38,0)") *
          (col("cumneg") * 2 + col("neg")).cast("decimal(38,0)")).as("num2"))
      .select(col("n_pos"), col("n_neg"), col("n_keys"),
        r6(when(col("n_pos") === 0 || col("n_neg") === 0, lit(0.5))
          .otherwise(col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")))).as("auc"))
  }

  // ---- q132: leakage-safe holdout evaluation (train/holdout AUC gap) ------

  private val holdoutLrCache = Memo.plain[Array[Double]]()

  /** q132: the evaluation discipline every learned filter needs before
    * anyone trusts its 100 TB verdicts — train the q91 classifier on the
    * q76 TRAIN split only (cluster-atomic, so near-dups of holdout docs
    * can't leak into training), freeze the train split's standardization
    * stats, score BOTH splits with the frozen model, and report exact
    * tie-aware AUC on each plus the generalization gap. q96's full-corpus
    * AUC evaluates on the training population; this is the number that
    * catches a filter that memorized its corpus.
    *
    * Scale shape: split assignment rides the memoized q49 label frame
    * (row-local md5 bucketing after one join); training is the same
    * 8-aggregate GD over the train subset; each AUC is the q96 histogram
    * decomposition (≤10⁶ integer keys, never corpus-pairwise). */
  /** (train, holdout) frames of (doc_id, p unrounded, y) under the
    * train-split-trained, train-stats-standardized model — the spec
    * brute-forces the pairwise AUC from these. */
  private[graft] def holdoutScoredFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val splits = DedupOps.leakageSafeSplits(spark, dir).select("doc_id", "split")
    // lrRaw (not lrRawOf over a fresh scan) — the full-corpus raw
    // features ride the memoized quality frame; the split filter below
    // selects the same rows it always did.
    val raw = lrRaw(spark, dir).join(splits, "doc_id")
    val rawTrain = raw.filter(col("split") === "train")
    val stats = lrStatsOf(rawTrain)
    val w = holdoutLrCache.getOrElseUpdate(
      s"${spark.sparkContext.applicationId}:$dir",
      lrTrainOn(lrFeatsOf(rawTrain, stats)))
    def scored(pop: DataFrame): DataFrame = {
      val zc = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3") + lit(w(4)) * col("x4")
      lrFeatsOf(pop, stats).select(col("doc_id"), sigma(zc).as("p"), col("y"))
    }
    (scored(rawTrain), scored(raw.filter(col("split") === "holdout")))
  }

  def holdoutAuc(spark: SparkSession, dir: String): DataFrame = {
    val (st, sh) = holdoutScoredFrames(spark, dir)
    val t = aucOf(st)
      .select((col("n_pos") + col("n_neg")).as("n_train"),
        col("auc").as("auc_train"))
    val h = aucOf(sh)
      .select((col("n_pos") + col("n_neg")).as("n_holdout"),
        col("auc").as("auc_holdout"))
    t.crossJoin(h).select(
      col("n_train"), col("n_holdout"), col("auc_train"), col("auc_holdout"),
      r6(col("auc_train") - col("auc_holdout")).as("auc_gap"))
  }

  /** The q96 AUC histogram block over a (doc, y, p) CTE `scored`,
    * prefixed so q132 can instantiate it twice in one query — ends in
    * `${pfx}tot(n_pos, n_neg, n_keys, num2)`. */
  private def aucSqlBlock(scored: String, pfx: String): String =
    s"""${pfx}hist AS (SELECT
       |    CAST(floor((floor(p * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) AS BIGINT) AS qkey,
       |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS pos,
       |    CAST(sum(1 - CAST(y AS BIGINT)) AS BIGINT) AS neg
       |  FROM $scored GROUP BY 1),
       |${pfx}cum AS (SELECT pos, neg,
       |    CAST(COALESCE(sum(neg) OVER
       |      (ORDER BY qkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumneg
       |  FROM ${pfx}hist),
       |${pfx}tot AS (SELECT
       |    CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
       |    CAST(count(*) AS BIGINT) AS n_keys,
       |    sum(CAST(pos AS DECIMAL(38,0)) * CAST(cumneg * 2 + neg AS DECIMAL(38,0))) AS num2
       |  FROM ${pfx}cum)""".stripMargin

  /** r6'd AUC select expression over `${pfx}tot`. */
  private def aucSqlExpr(pfx: String): String =
    s"""CASE WHEN ${pfx}tot.n_pos = 0 OR ${pfx}tot.n_neg = 0 THEN 0.5
       |       ELSE floor((CAST(${pfx}tot.num2 AS DOUBLE) / (2.0 * ${pfx}tot.n_pos * ${pfx}tot.n_neg)) * 1000000 + 0.5) / 1000000
       |  END""".stripMargin

  val classifierAucSql: String =
    s"""WITH $qualityCtes,
       |$lrCtes,
       |${aucSqlBlock("lscored", "a")}
       |SELECT n_pos, n_neg, n_keys,
       |  ${aucSqlExpr("a")} AS auc
       |FROM atot""".stripMargin

  /** q132 oracle: q76's split assignment (cluster-atomic md5 buckets over
    * the unrolled label propagation), training unrolled over the TRAIN
    * population only, holdout standardized with the train stats and
    * scored with the final weights, the q96 AUC block instantiated per
    * split. */
  val holdoutAucSql: String =
    s"""WITH $qualityCtes,
       |${DedupOps.dupLabelCtes},
       |tsp AS MATERIALIZED (SELECT doc_id,
       |          CASE WHEN CAST(('0x' || substring(md5(CAST(label AS VARCHAR)), 1, 15)) AS BIGINT)
       |                    % ${DedupOps.SplitBuckets} < ${DedupOps.TrainBuckets}
       |               THEN 'train' ELSE 'holdout' END AS split
       |        FROM l${DedupOps.ClusterIterations}),
       |${lrawFromQualCte.replace("lraw AS", "lraw_all AS MATERIALIZED")},
       |${lrCtesFrom(
            """lraw AS (SELECT lraw_all.* FROM lraw_all
              |JOIN tsp USING (doc_id) WHERE split = 'train')""".stripMargin)},
       |hfe AS (SELECT a.doc_id, a.y,
       |  CASE WHEN s1 = 0.0 THEN 0.0 ELSE (r1-m1)/s1 END AS x1,
       |  CASE WHEN s2 = 0.0 THEN 0.0 ELSE (r2-m2)/s2 END AS x2,
       |  CASE WHEN s3 = 0.0 THEN 0.0 ELSE (r3-m3)/s3 END AS x3,
       |  CASE WHEN s4 = 0.0 THEN 0.0 ELSE (r4-m4)/s4 END AS x4
       |FROM lraw_all a JOIN tsp USING (doc_id), lmu, lsd
       |WHERE split = 'holdout'),
       |hscored AS (SELECT doc_id, y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
       |FROM (SELECT f.doc_id, f.y,
       |        w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4 AS z
       |      FROM hfe f, lw$LrIters w)),
       |${aucSqlBlock("lscored", "t")},
       |${aucSqlBlock("hscored", "h")},
       |hsel AS (SELECT
       |    CAST(ttot.n_pos + ttot.n_neg AS BIGINT) AS n_train,
       |    CAST(htot.n_pos + htot.n_neg AS BIGINT) AS n_holdout,
       |    ${aucSqlExpr("t")} AS auc_train,
       |    ${aucSqlExpr("h")} AS auc_holdout
       |  FROM ttot, htot)
       |SELECT n_train, n_holdout, auc_train, auc_holdout,
       |  floor((auc_train - auc_holdout) * 1000000 + 0.5) / 1000000 AS auc_gap
       |FROM hsel""".stripMargin

  // ---- q92/q93: learned BPE merge table + tokens under the learned vocab --

  /** Number of BPE merge rounds — FIXED so training unrolls into the
    * DuckDB oracle (bpeCtes), one CTE triple per round, like kmeansCtes /
    * lrCtes. */
  val BpeMerges = 12

  /** Word-type table with counts and the guarded symbol representation:
    * "hello" → " h e l l o " (space-joined symbols, space guards at both
    * ends so a merge pattern " l r " can only match at symbol boundaries).
    *
    * Learning on word TYPES, not occurrences, is the scalable BPE shape:
    * the corpus collapses to a vocab-sized count table in one shuffle and
    * every merge round after that touches only the vocab. */
  private def bpeVocab0(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(TextOps.tokenize(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("repr", concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))

  /** Adjacent-symbol pair counts weighted by word count (a pair occurring
    * twice inside one word counts twice, as in reference BPE). Interpreted
    * array HOFs are fine here: this runs on the vocab table, never on the
    * corpus. */
  private def bpePairs(vocab: DataFrame): DataFrame = {
    val s = split(trim(col("repr")), " ")
    val n = size(s)
    vocab
      .select(col("cnt"), explode(zip_with(
        slice(s, lit(1), n - 1), slice(s, lit(2), n - 1),
        (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("pr"))
      .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
      .agg(sum(col("cnt")).as("pair_count"))
  }

  private val bpeCache =
    new Memo[(Seq[(Int, String, String, Long)], DataFrame)](_._2.unpersist(true))

  /** Fixed-iteration BPE training: per round, count adjacent symbol pairs
    * over the vocab, take the top pair (count DESC, lhs ASC, rhs ASC — an
    * integer/binary-string argmax, so exactly reproducible cross-engine),
    * and rewrite every repr with a single scan-and-skip replace. Both
    * engines' replace builds the result scanning the ORIGINAL string
    * left-to-right, skipping over what it already replaced (verified:
    * " a a a a " → " aa a a " in Spark/Java and DuckDB alike), so the
    * merge application is bit-identical by construction.
    *
    * Scale shape: one corpus shuffle total (the word-count groupBy behind
    * bpeVocab0, cached); then BpeMerges vocab-local jobs, each a map-side
    * combined pair count plus a 1-row argmax collect — the driver holds
    * the merge table (the model), exactly like qualityLrModel holds its
    * weights. At 100 TB the vocab table is ~10⁸ rows — still executor
    * work, never a driver bottleneck. */
  def bpeModel(spark: SparkSession, dir: String):
      (Seq[(Int, String, String, Long)], DataFrame) =
    bpeCache.getOrElseUpdate(s"${spark.sparkContext.applicationId}:$dir", {
      var vocab = bpeVocab0(spark, dir).cache()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (t <- 1 to BpeMerges) {
        // Fixed-iteration contract: the corpus must support all BpeMerges
        // rounds (the oracle unroll has no early-stop branch). Fail loudly
        // on a degenerate corpus instead of NoSuchElementException — the
        // SQL twin would silently empty out via the bm-CTE cross join.
        val cand = bpePairs(vocab)
          .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
          .limit(1).collect()
        require(cand.nonEmpty,
          s"BPE corpus exhausted at merge round $t/$BpeMerges: no adjacent " +
            "symbol pairs remain (corpus too small for the fixed merge count)")
        val top = cand(0)
        val (l, r) = (top.getString(0), top.getString(1))
        merges += ((t, l, r, top.getLong(2)))
        vocab = vocab.withColumn("repr",
          replace(col("repr"), lit(s" $l $r "), lit(s" $l$r ")))
      }
      (merges.toSeq, vocab.cache())
    })

  /** q92: the learned merge table — rank, the merged pair, and its count
    * at merge time. This IS the model artifact a tokenizer ships. */
  def bpeMergeTable(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeModel(spark, dir)
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
      .select(col("merge_rank").cast("long").as("merge_rank"),
        col("lhs"), col("rhs"), concat(col("lhs"), col("rhs")).as("merged"),
        col("pair_count"))
      .orderBy("merge_rank")
  }

  /** q93: per-document token counts under the learned vocab. The corpus
    * never re-runs the merges: each word type's final symbol count is read
    * off the trained vocab table and joined back to the exploded corpus —
    * the standard "apply tokenizer at scale" join (word-keyed, AQE picks
    * broadcast vs shuffle by vocab size). */
  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = bpeModel(spark, dir)
    bpeTokenCountsFrom(spark, dir, vocab.select(col("word"),
      size(split(trim(col("repr")), " ")).cast("long").as("n_sym")))
  }

  /** Tokenize the corpus from a (word, n_sym) symbol-count table — either
    * the in-session trained vocab (q93) or BuildTokenizer's persisted
    * artifact (the production shape: apply never retrains). A word type
    * ABSENT from the vocab (possible only when the artifact scores a
    * corpus it wasn't trained on) falls back to character segmentation —
    * length(word) symbols, standard BPE OOV behavior — instead of being
    * silently dropped by an inner join. On the training corpus the
    * fallback never fires (vocab is total there), so q93's oracle is
    * unaffected; Round7OpsSpec pins the cross-corpus case. */
  def bpeTokenCountsFrom(spark: SparkSession, dir: String,
      symCounts: DataFrame): DataFrame = {
    val perDoc = docs(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("word"))
      .join(symCounts, Seq("word"), "left")
      .withColumn("n_sym", coalesce(col("n_sym"), length(col("word")).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("bpe_tokens"))
    docs(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"),
        r6(when(coalesce(col("bpe_tokens"), lit(0L)) === 0L, 0.0)
          .otherwise(col("n_chars").cast("double") / col("bpe_tokens").cast("double")))
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Unrolled BPE training oracle ending in bv$BpeMerges(word, cnt, repr)
    * and bm1..bm$BpeMerges (the per-round winners). Every CTE is
    * MATERIALIZED: bv_t references bv_{t−1} twice (through the round's
    * pair count AND directly for the rewrite), and DuckDB's default
    * inlining re-expands the whole prefix per reference — 2^BpeMerges
    * re-evaluations of the corpus tokenization by the last round
    * (measured ~5 min at sf0.01; materialized, seconds). Same medicine
    * as the q97 oracle. Mirrors bpeModel round
    * for round; DuckDB's zipped equal-length unnests pair adjacent
    * symbols. */
  private val bpeCtes: String = {
    val header =
      s"""bv0 AS MATERIALIZED (SELECT word, count(*) AS cnt,
         |  ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS repr
         |FROM (SELECT unnest(regexp_extract_all(lower(text), '$TokRe')) AS word
         |      FROM documents)
         |GROUP BY word)""".stripMargin
    val rounds = (1 to BpeMerges).flatMap { t =>
      Seq(
        s"""bp$t AS MATERIALIZED (SELECT lhs, rhs, sum(cnt) AS c FROM (
           |  SELECT cnt, unnest(s[1:len(s)-1]) AS lhs, unnest(s[2:len(s)]) AS rhs
           |  FROM (SELECT cnt, string_split(trim(repr), ' ') AS s FROM bv${t - 1}))
           |GROUP BY lhs, rhs)""".stripMargin,
        s"bm$t AS MATERIALIZED (SELECT lhs, rhs, c FROM bp$t ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1)",
        s"""bv$t AS MATERIALIZED (SELECT word, cnt,
           |  replace(repr, ' ' || m.lhs || ' ' || m.rhs || ' ', ' ' || m.lhs || m.rhs || ' ') AS repr
           |FROM bv${t - 1}, bm$t m)""".stripMargin)
    }
    (header +: rounds).mkString(",\n")
  }

  val bpeMergeTableSql: String = {
    val union = (1 to BpeMerges)
      .map(t => s"SELECT CAST($t AS BIGINT) AS merge_rank, lhs, rhs, lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count FROM bm$t")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeCtes
       |SELECT * FROM (
       |$union
       |) ORDER BY merge_rank""".stripMargin
  }

  val bpeTokenCountsSql: String =
    s"""WITH $bpeCtes,
       |btm AS (SELECT word, CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS n_sym
       |        FROM bv$BpeMerges),
       |bw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokRe')) AS word
       |       FROM documents),
       |bd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(n_sym) AS BIGINT) AS bpe_tokens
       |       FROM bw JOIN btm USING (word) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
       |  coalesce(bd.n_words, 0) AS n_words, coalesce(bd.bpe_tokens, 0) AS bpe_tokens,
       |  floor((CASE WHEN coalesce(bd.bpe_tokens, 0) = 0 THEN 0.0
       |              ELSE length(d.text)::DOUBLE / bd.bpe_tokens END) * 1000000 + 0.5)
       |    / 1000000 AS chars_per_token
       |FROM documents d LEFT JOIN bd USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- q118: tokenizer fertility by language ------------------------------

  /** q118: per-language tokenizer fertility under the learned BPE vocab —
    * mean symbols per word (fertility) and chars per symbol. THE health
    * check a multilingual corpus runs before committing a tokenizer to a
    * 100 TB tokenization pass: a vocab trained on the majority language
    * over-segments the rest (fertility climbs toward character-level),
    * which silently inflates their token budgets and shifts the q46/q99
    * mixture — this table is where that decision gets made. Shares q92's
    * memoized training run and q93's apply-join (word-keyed, vocab-scale
    * right side, OOV character fallback), then collapses to one row per
    * language — the corpus-sized work is exactly q93's. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = bpeModel(spark, dir)
    val sym = vocab.select(col("word"),
      size(split(trim(col("repr")), " ")).cast("long").as("n_sym"))
    docs(spark, dir)
      .select(col("lang"), explode(TextOps.tokenize(col("text"))).as("word"))
      .join(sym, Seq("word"), "left")
      .withColumn("n_sym", coalesce(col("n_sym"), length(col("word")).cast("long")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("bpe_tokens"),
        sum(length(col("word")).cast("long")).as("word_chars"))
      .select(col("lang"), col("n_words"), col("bpe_tokens"),
        r6(col("bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        r6(col("word_chars").cast("double") / col("bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  val bpeFertilitySql: String =
    s"""WITH $bpeCtes,
       |ftm AS (SELECT word, CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS n_sym
       |        FROM bv$BpeMerges),
       |fw AS (SELECT lang, unnest(regexp_extract_all(lower(text), '$TokRe')) AS word
       |       FROM documents),
       |fa AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(coalesce(n_sym, length(word))) AS BIGINT) AS bpe_tokens,
       |         CAST(sum(length(word)) AS BIGINT) AS word_chars
       |       FROM fw LEFT JOIN ftm USING (word) GROUP BY lang)
       |SELECT lang, n_words, bpe_tokens,
       |  floor((bpe_tokens::DOUBLE / n_words) * 1000000 + 0.5) / 1000000 AS fertility,
       |  floor((word_chars::DOUBLE / bpe_tokens) * 1000000 + 0.5) / 1000000 AS chars_per_token
       |FROM fa ORDER BY lang""".stripMargin

  // ---- q126: context-length truncation ablation ----------------------------

  /** Candidate max-sequence-lengths for the q126 ablation (word tokens;
    * spans the corpus's length distribution so every row is informative). */
  val TruncLens = Seq(16L, 32L, 64L, 128L)

  /** q126: what each candidate training context length costs — per
    * max_seq_len L: how many documents get truncated, the exact token
    * mass kept (Σ min(n, L), DECIMAL-free — integer sums), and the doc/
    * token loss rates. The table a pipeline reads before fixing
    * max_seq_len: the tipping point where longer contexts stop buying
    * token coverage. Scale shape: one row-local token count per doc, a
    * 4× explode on a TWO-column frame (n only), then one map-side-
    * combined aggregate on 4 keys — corpus-size-linear with constant
    * output. */
  def truncationLoss(spark: SparkSession, dir: String): DataFrame = {
    val lens = docs(spark, dir)
      .select(size(TextOps.tokenize(col("text"))).cast("long").as("n"))
    lens
      .select(col("n"), explode(lit(TruncLens.toArray)).as("max_seq_len"))
      .groupBy("max_seq_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n") > col("max_seq_len"), 1L).otherwise(0L)).as("n_truncated"),
        sum(col("n")).as("tokens_total"),
        sum(least(col("n"), col("max_seq_len"))).as("tokens_kept"))
      .select(col("max_seq_len"), col("n_docs"), col("n_truncated"),
        col("tokens_total"), col("tokens_kept"),
        r6(col("n_truncated").cast("double") / col("n_docs").cast("double"))
          .as("doc_trunc_rate"),
        r6(lit(1.0) - col("tokens_kept").cast("double") /
          col("tokens_total").cast("double")).as("token_loss_rate"))
      .orderBy("max_seq_len")
  }

  val truncationLossSql: String =
    s"""WITH tl AS (SELECT len(regexp_extract_all(lower(text), '$TokRe')) AS n FROM documents),
       |lv AS (SELECT CAST(unnest([${TruncLens.mkString(", ")}]) AS BIGINT) AS max_seq_len),
       |ag AS (SELECT max_seq_len,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN n > max_seq_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
       |         CAST(sum(n) AS BIGINT) AS tokens_total,
       |         CAST(sum(least(n, max_seq_len)) AS BIGINT) AS tokens_kept
       |       FROM tl CROSS JOIN lv GROUP BY max_seq_len)
       |SELECT max_seq_len, n_docs, n_truncated, tokens_total, tokens_kept,
       |  floor((n_truncated::DOUBLE / n_docs) * 1000000 + 0.5) / 1000000 AS doc_trunc_rate,
       |  floor((1.0 - tokens_kept::DOUBLE / tokens_total) * 1000000 + 0.5) / 1000000 AS token_loss_rate
       |FROM ag ORDER BY max_seq_len""".stripMargin

  // ---- q127: Gopher-rule quality filter ablation ---------------------------

  /** q127 word-count bounds (Gopher's 50..100k floor scaled to this
    * corpus's ~24-token documents so the rule discriminates here). */
  val GopherMinWords = 20L
  val GopherMaxWords = 100000L

  /** Required-stopword list for q127's rule 7. Gopher's published list
    * (the/be/to/of/and/that/have/with — Rae et al. 2021 App. A1.1)
    * intersects this corpus's synthetic vocabulary in exactly {the}, so
    * the ≥2 requirement would flag 100% of documents (measured — the
    * ablation table itself surfaced it); the engine's own function-word
    * list keeps the rule discriminative here (pass rate ≈ 0.63 at
    * sf0.01), the same corpus-scaled-threshold precedent as
    * [[GopherMinWords]]. */
  val GopherStops: Seq[String] = Stopwords

  /** q127: the Gopher repetition-free quality rules as a per-rule
    * ablation table — for each rule, how many documents it alone would
    * remove, plus the `any_rule` union row. Publishing the per-rule
    * breakdown (not just the surviving corpus) is what lets a curator
    * see WHICH heuristic is doing the cutting before composing them.
    * Rules (Rae et al. 2021 App. A1.1, thresholds noted inline):
    * word count outside [min, max]; mean word length outside [3, 10];
    * symbol-to-word ratio (# / ellipsis) > 0.1; > 90% of lines
    * bullet-led; > 30% of lines ellipsis-terminated; < 80% of words
    * containing an alphabetic char; < 2 of the 8 required stopwords.
    * Scale shape: every flag is row-local column arithmetic (whole-stage
    * codegen), one global map-side-combined aggregate, then a constant
    * 8-row unpivot — one corpus pass total. */
  /** Per-document Gopher rule flags over ANY (doc_id, text) frame —
    * row-local only, exposed for the planted-document spec. */
  private[graft] def gopherFlagsOf(d: DataFrame): DataFrame = {
    val toks = TextOps.tokenize(col("text"))
    val n = size(toks).cast("long")
    val nD = n.cast("double")
    val mwl = when(n === 0, 0.0)
      .otherwise(length(array_join(toks, "")).cast("double") / nD)
    val nHash = (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
      .cast("double")
    val nEll = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("double")
    val lines = split(col("text"), "\n")
    val nLines = size(lines).cast("double")
    val bulletLines = size(filter(lines,
      l => ltrim(l, " \t").startsWith("-") || ltrim(l, " \t").startsWith("*")))
      .cast("double")
    val ellLines = size(filter(lines, l => rtrim(l, " \t").endsWith("...")))
      .cast("double")
    val alphaToks = size(filter(toks, t => t.rlike("[a-z]"))).cast("double")
    val stopsPresent = size(filter(lit(GopherStops.toArray),
      w => array_contains(toks, w)))
    d.select(
      col("doc_id"),
      (n < GopherMinWords || n > GopherMaxWords).as("f_word_count"),
      (n === 0 || mwl < 3.0 || mwl > 10.0).as("f_mean_word_len"),
      (n === 0 || (nHash + nEll) / nD > 0.1).as("f_symbol_ratio"),
      (bulletLines / nLines > 0.9).as("f_bullet_lines"),
      (ellLines / nLines > 0.3).as("f_ellipsis_lines"),
      (n === 0 || alphaToks / nD < 0.8).as("f_alpha_words"),
      (stopsPresent < 2).as("f_stopwords"))
  }

  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val flags = gopherFlagsOf(docs(spark, dir))
    val anyFlag = Seq("f_word_count", "f_mean_word_len", "f_symbol_ratio",
      "f_bullet_lines", "f_ellipsis_lines", "f_alpha_words", "f_stopwords")
      .map(col).reduce(_ || _)
    val agg = flags.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("f_word_count"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("f_mean_word_len"), 1L).otherwise(0L)).as("c2"),
      sum(when(col("f_symbol_ratio"), 1L).otherwise(0L)).as("c3"),
      sum(when(col("f_bullet_lines"), 1L).otherwise(0L)).as("c4"),
      sum(when(col("f_ellipsis_lines"), 1L).otherwise(0L)).as("c5"),
      sum(when(col("f_alpha_words"), 1L).otherwise(0L)).as("c6"),
      sum(when(col("f_stopwords"), 1L).otherwise(0L)).as("c7"),
      sum(when(anyFlag, 1L).otherwise(0L)).as("c8"))
    agg.select(col("n_docs"), explode(array(
      struct(lit("1_word_count").as("rule"), col("c1").as("n_flagged")),
      struct(lit("2_mean_word_len").as("rule"), col("c2").as("n_flagged")),
      struct(lit("3_symbol_ratio").as("rule"), col("c3").as("n_flagged")),
      struct(lit("4_bullet_lines").as("rule"), col("c4").as("n_flagged")),
      struct(lit("5_ellipsis_lines").as("rule"), col("c5").as("n_flagged")),
      struct(lit("6_alpha_words").as("rule"), col("c6").as("n_flagged")),
      struct(lit("7_stopwords").as("rule"), col("c7").as("n_flagged")),
      struct(lit("8_any_rule").as("rule"), col("c8").as("n_flagged")))).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_flagged").as("n_flagged"),
        r6(col("r.n_flagged").cast("double") / col("n_docs").cast("double"))
          .as("flag_rate"))
      .orderBy("rule")
  }

  /** Shared q127/q133 per-document Gopher flag derivation ending in
    * gf(doc_id, f1..f7) — the SQL twin of [[gopherFlagsOf]]. */
  private val gopherFlagCtes: String = {
    val stopList = GopherStops.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""gb AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$TokRe') AS t,
       |         string_split(text, chr(10)) AS lines, text
       |  FROM documents),
       |gm AS (
       |  SELECT doc_id, len(t) AS n,
       |    CASE WHEN len(t) = 0 THEN 0.0
       |         ELSE length(array_to_string(t, ''))::DOUBLE / len(t) END AS mwl,
       |    (length(text) - length(replace(text, '#', '')))::DOUBLE AS n_hash,
       |    ((length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE AS n_ell,
       |    len(lines)::DOUBLE AS n_lines,
       |    len(list_filter(lines, l -> starts_with(ltrim(l, ' ' || chr(9)), '-')
       |                            OR starts_with(ltrim(l, ' ' || chr(9)), '*')))::DOUBLE AS bullet_lines,
       |    len(list_filter(lines, l -> ends_with(rtrim(l, ' ' || chr(9)), '...')))::DOUBLE AS ell_lines,
       |    len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE AS alpha_toks,
       |    len(list_filter($stopList, w -> list_contains(t, w))) AS stops_present
       |  FROM gb),
       |gf AS (
       |  SELECT doc_id, (n < $GopherMinWords OR n > $GopherMaxWords) AS f1,
       |    (n = 0 OR mwl < 3.0 OR mwl > 10.0) AS f2,
       |    (n = 0 OR (n_hash + n_ell) / n > 0.1) AS f3,
       |    (bullet_lines / n_lines > 0.9) AS f4,
       |    (ell_lines / n_lines > 0.3) AS f5,
       |    (n = 0 OR alpha_toks / n < 0.8) AS f6,
       |    (stops_present < 2) AS f7
       |  FROM gm)""".stripMargin
  }

  val gopherRulesSql: String =
    s"""WITH $gopherFlagCtes,
       |ga AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       |    CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
       |    CAST(sum(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
       |    CAST(sum(CASE WHEN f6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
       |    CAST(sum(CASE WHEN f7 THEN 1 ELSE 0 END) AS BIGINT) AS c7,
       |    CAST(sum(CASE WHEN f1 OR f2 OR f3 OR f4 OR f5 OR f6 OR f7 THEN 1 ELSE 0 END) AS BIGINT) AS c8
       |  FROM gf),
       |gu AS (
       |  SELECT '1_word_count' AS rule, c1 AS n_flagged, n_docs FROM ga
       |  UNION ALL SELECT '2_mean_word_len', c2, n_docs FROM ga
       |  UNION ALL SELECT '3_symbol_ratio', c3, n_docs FROM ga
       |  UNION ALL SELECT '4_bullet_lines', c4, n_docs FROM ga
       |  UNION ALL SELECT '5_ellipsis_lines', c5, n_docs FROM ga
       |  UNION ALL SELECT '6_alpha_words', c6, n_docs FROM ga
       |  UNION ALL SELECT '7_stopwords', c7, n_docs FROM ga
       |  UNION ALL SELECT '8_any_rule', c8, n_docs FROM ga)
       |SELECT rule, n_flagged,
       |  floor((n_flagged::DOUBLE / n_docs) * 1000000 + 0.5) / 1000000 AS flag_rate
       |FROM gu ORDER BY rule""".stripMargin

  // ---- q134: Heaps'-law vocabulary growth ----------------------------------

  /** q134: the vocabulary-growth diagnostic that pairs with q87's Zipf
    * slope — cumulative vocabulary V and token mass T at ten corpus
    * prefixes (doc_id deciles, the ingest order), plus the fitted Heaps
    * exponent β of ln V on ln T. Healthy natural text sits near
    * β ≈ 0.4–0.6; β falling toward 0 across ingest batches means the
    * crawl stopped discovering language (template flood); β near 1 means
    * vocabulary explosion (OCR noise, ID spam). V(prefix) needs no
    * per-prefix distinct: a type is in V(k) iff its FIRST occurrence
    * doc precedes threshold t_k, so one type-scale min(doc_id)
    * aggregate answers all ten prefixes.
    *
    * The fitted axis is word TRIGRAM types (q57's granularity): this
    * corpus's 31-word synthetic unigram vocabulary saturates inside the
    * first decile — the honest β = 0 degenerate reading — while
    * trigram types keep being discovered across the whole corpus
    * (2.4k → 16k at sf0.01), so the exponent is informative. The
    * unigram column stays in the output as the saturation evidence.
    *
    * Scale shape: one (type, min doc_id) aggregate each for unigrams
    * and trigrams (type-scale output), one row-local doc-length
    * projection; the decile assignment is a 10× explode carrying only
    * (long, int) pairs into a 10-key map-side-combined aggregate — no
    * non-equi join anywhere; the fit runs q87's DECIMAL moment
    * machinery over exactly 10 points. */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val nDocs = d.agg(count(lit(1)).as("n"))
    val th = (1 to 10).toDF("k").crossJoin(broadcast(nDocs))
      .select(col("k"),
        floor((col("n") * col("k")).cast("double") / 10.0).cast("long").as("t"))
    val ks = explode(lit((1 to 10).toArray)).as("k")
    val firstSeen = d
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
      .groupBy("term").agg(min("doc_id").as("first_seen"))
    val vocabCum = firstSeen.select(col("first_seen"), ks)
      .join(broadcast(th), "k")
      .filter(col("first_seen") < col("t"))
      .groupBy("k", "t").agg(count(lit(1)).as("vocab_cum"))
    val triFirstSeen = d
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("tt"))
      .filter(size(col("tt")) >= 3)
      .select(col("doc_id"), col("tt"),
        explode(sequence(lit(1), size(col("tt")) - 2)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("tt"), col("i")),
        element_at(col("tt"), col("i") + 1),
        element_at(col("tt"), col("i") + 2)).as("g"))
      .groupBy("g").agg(min("doc_id").as("first_seen"))
    val triCum = triFirstSeen.select(col("first_seen"), ks)
      .join(broadcast(th), "k")
      .filter(col("first_seen") < col("t"))
      .groupBy("k").agg(count(lit(1)).as("trigram_cum"))
    val tokCum = d
      .select(col("doc_id"), size(TextOps.tokenize(col("text"))).cast("long").as("dl"))
      .select(col("doc_id"), col("dl"), ks)
      .join(broadcast(th), "k")
      .filter(col("doc_id") < col("t"))
      .groupBy("k").agg(sum(col("dl")).as("tokens_cum"))
    val pts = vocabCum.join(triCum, "k").join(tokCum, "k")
      .select(col("k").cast("long").as("decile"), col("t").as("threshold"),
        col("tokens_cum"), col("vocab_cum"), col("trigram_cum"),
        log(col("tokens_cum").cast("double")).as("x"),
        log(col("trigram_cum").cast("double")).as("y"))
    val m = pts.agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"),
      dsum(col("y")).as("sy"), dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"), dsum(col("y") * col("y")).as("syy"))
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    val fit = m.select(
      r6(when(dxx === 0.0, 0.0).otherwise(dxy / dxx)).as("beta"),
      r6(when(dxx === 0.0 || dyy === 0.0, 0.0)
        .otherwise(dxy * dxy / (dxx * dyy))).as("r2"))
    pts.select("decile", "threshold", "tokens_cum", "vocab_cum", "trigram_cum")
      .crossJoin(broadcast(fit))
      .orderBy("decile")
  }

  val heapsLawSql: String =
    s"""WITH hn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |hth AS (SELECT k, CAST(floor((n * k)::DOUBLE / 10.0) AS BIGINT) AS t
       |        FROM (SELECT unnest(range(1, 11)) AS k), hn),
       |hfs AS (SELECT term, min(doc_id) AS first_seen
       |        FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '$TokRe')) AS term
       |              FROM documents)
       |        GROUP BY term),
       |hv AS (SELECT k, t, CAST(count(*) AS BIGINT) AS vocab_cum
       |       FROM hth JOIN hfs ON first_seen < t GROUP BY k, t),
       |htfs AS (SELECT g, min(doc_id) AS first_seen
       |         FROM (SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS g
       |               FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
       |                     FROM (SELECT doc_id, regexp_extract_all(lower(text), '$TokRe') AS t
       |                           FROM documents)
       |                     WHERE len(t) >= 3))
       |         GROUP BY g),
       |htri AS (SELECT k, CAST(count(*) AS BIGINT) AS trigram_cum
       |         FROM hth JOIN htfs ON first_seen < t GROUP BY k),
       |hdl AS (SELECT doc_id, len(regexp_extract_all(lower(text), '$TokRe')) AS dl
       |        FROM documents),
       |ht AS (SELECT k, CAST(sum(dl) AS BIGINT) AS tokens_cum
       |       FROM hth JOIN hdl ON doc_id < t GROUP BY k),
       |hp AS (SELECT CAST(k AS BIGINT) AS decile, t AS threshold, tokens_cum, vocab_cum,
       |         trigram_cum,
       |         ln(tokens_cum::DOUBLE) AS x, ln(trigram_cum::DOUBLE) AS y
       |       FROM hv JOIN htri USING (k) JOIN ht USING (k)),
       |hm AS (SELECT count(*) AS n,
       |         CAST(sum(CAST(x AS DECIMAL(30,8))) AS DOUBLE) AS sx,
       |         CAST(sum(CAST(y AS DECIMAL(30,8))) AS DOUBLE) AS sy,
       |         CAST(sum(CAST(x * y AS DECIMAL(30,8))) AS DOUBLE) AS sxy,
       |         CAST(sum(CAST(x * x AS DECIMAL(30,8))) AS DOUBLE) AS sxx,
       |         CAST(sum(CAST(y * y AS DECIMAL(30,8))) AS DOUBLE) AS syy
       |       FROM hp),
       |hfit AS (SELECT
       |    floor((CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
       |                ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * 1000000 + 0.5)
       |      / 1000000 AS beta,
       |    floor((CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
       |                ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy) /
       |                  ((n * sxx - sx * sx) * (n * syy - sy * sy)) END) * 1000000 + 0.5)
       |      / 1000000 AS r2
       |  FROM hm)
       |SELECT decile, threshold, tokens_cum, vocab_cum, trigram_cum, beta, r2
       |FROM hp, hfit ORDER BY decile""".stripMargin

  // ---- q137: PMI collocations (statistical phrase mining) ------------------

  /** Minimum bigram count and result size for q137. */
  val PmiMinCount = 5L
  val PmiTopK = 20

  /** q137: pointwise-mutual-information collocations — the statistical
    * phrase-mining pass that decides which adjacent word pairs behave
    * as units (the input to phrase-aware tokenization and to n-gram
    * feature vocabularies): PMI = ln(p(ab) / (p(a)·p(b))) with MLE
    * probabilities (bigram count over total bigrams; unigram counts
    * over total tokens), a count floor to kill noise pairs, top-K by
    * PMI. Every probability is a ratio of exact integer counts, so the
    * single ln sees bit-identical operands in both engines and the
    * ranking cannot drift.
    *
    * Scale shape: one bigram-explode aggregate and one unigram
    * aggregate (both map-side-combined, type-scale outputs), two
    * broadcast joins of the (tiny) scalar totals, and a TopK rank over
    * the count-floored pair frame — the same vocabulary-scale window
    * standing as q87's rank (two-stage at a 10⁸-pair vocabulary). */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val bg = toks.filter(size(col("t")) >= 2)
      .select(explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val nBg = bg.agg(sum(col("c_ab")).as("n_bg"))
    val scored = bg.filter(col("c_ab") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .select(col("w1"), col("w2"), col("c_ab"),
        log((col("c_ab").cast("double") / col("n_bg").cast("double")) /
          ((col("c1").cast("double") / col("n_tok").cast("double")) *
            (col("c2").cast("double") / col("n_tok").cast("double")))).as("pmi"))
    scored
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(PmiTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)).cast("long"))
      .select(col("rank"), col("w1"), col("w2"), col("c_ab"), r6(col("pmi")).as("pmi"))
      .orderBy("rank")
  }

  val pmiCollocationsSql: String =
    s"""WITH ptk AS (SELECT regexp_extract_all(lower(text), '$TokRe') AS t FROM documents),
       |puni AS (SELECT w, count(*) AS c
       |         FROM (SELECT unnest(t) AS w FROM ptk) GROUP BY w),
       |pnt AS (SELECT sum(c) AS n_tok FROM puni),
       |pbg AS (SELECT w1, w2, count(*) AS c_ab FROM (
       |          SELECT t[i] AS w1, t[i + 1] AS w2
       |          FROM (SELECT t, unnest(range(1, len(t))) AS i FROM ptk
       |                WHERE len(t) >= 2))
       |        GROUP BY w1, w2),
       |pnb AS (SELECT sum(c_ab) AS n_bg FROM pbg),
       |psc AS (SELECT w1, w2, c_ab,
       |          ln((c_ab::DOUBLE / n_bg) /
       |             ((u1.c::DOUBLE / n_tok) * (u2.c::DOUBLE / n_tok))) AS pmi
       |        FROM pbg
       |        JOIN puni u1 ON pbg.w1 = u1.w
       |        JOIN puni u2 ON pbg.w2 = u2.w, pnt, pnb
       |        WHERE c_ab >= $PmiMinCount)
       |SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank,
       |  w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
       |  floor((pmi) * 1000000 + 0.5) / 1000000 AS pmi
       |FROM psc
       |ORDER BY pmi DESC, w1 ASC, w2 ASC
       |LIMIT $PmiTopK""".stripMargin

  // ---- q133: per-source quality scorecard ----------------------------------

  /** q133: the per-source health table a curator reads next to q88's
    * duplication matrix and q112's KL drift before setting the q120
    * mixture weights — for each source: doc and token mass, mean
    * heuristic quality (q30), mean learned probability (q91), and the
    * Gopher any-rule flag rate (q127). One row per source pins WHERE the
    * junk lives; the corpus-level aggregates (q90, q96) can't say which
    * crawl to cut. All three per-doc signals are memoized/row-local; the
    * scorecard is three doc_id joins and one |sources|-key aggregate.
    * Means average the r6-ROUNDED per-doc values (exact 10⁻⁶-grid
    * decimals, so DECIMAL sums are identical cross-engine). */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "source")
    val q = textQuality(spark, dir).select("doc_id", "n_tokens", "quality_score")
    val p = qualityClassifier(spark, dir).select("doc_id", "p_quality")
    val flagCols = Seq("f_word_count", "f_mean_word_len", "f_symbol_ratio",
      "f_bullet_lines", "f_ellipsis_lines", "f_alpha_words", "f_stopwords")
    val g = gopherFlagsOf(docs(spark, dir))
      .select(col("doc_id"),
        when(flagCols.map(col).reduce(_ || _), 1L).otherwise(0L).as("flagged"))
    d.join(q, "doc_id").join(p, "doc_id").join(g, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        r6(sum(col("quality_score").cast("decimal(30,8)")).cast("double") /
          count(lit(1))).as("mean_quality"),
        r6(sum(col("p_quality").cast("decimal(30,8)")).cast("double") /
          count(lit(1))).as("mean_p_quality"),
        sum(col("flagged")).as("n_flagged"),
        r6(sum(col("flagged")).cast("double") / count(lit(1))).as("flag_rate"))
      .orderBy("source")
  }

  val sourceScorecardSql: String =
    s"""WITH $qualityCtes,
       |$lrCtes,
       |$gopherFlagCtes,
       |ssc AS (SELECT d.source, qual.quality_score,
       |          floor(ls.p * 1000000 + 0.5) / 1000000 AS p_quality,
       |          qual.n_tokens,
       |          CASE WHEN gf.f1 OR gf.f2 OR gf.f3 OR gf.f4 OR gf.f5 OR gf.f6 OR gf.f7
       |               THEN 1 ELSE 0 END AS flagged
       |        FROM documents d
       |        JOIN qual ON d.doc_id = qual.doc_id
       |        JOIN lscored ls ON d.doc_id = ls.doc_id
       |        JOIN gf ON d.doc_id = gf.doc_id)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  floor((CAST(sum(CAST(quality_score AS DECIMAL(30,8))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS mean_quality,
       |  floor((CAST(sum(CAST(p_quality AS DECIMAL(30,8))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS mean_p_quality,
       |  CAST(sum(flagged) AS BIGINT) AS n_flagged,
       |  floor((CAST(sum(flagged) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS flag_rate
       |FROM ssc GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_truncation_loss" -> (truncationLoss _),
    "q127_gopher_rules" -> (gopherRules _),
    "q132_holdout_auc" -> (holdoutAuc _),
    "q133_source_scorecard" -> (sourceScorecard _),
    "q134_heaps_law" -> (heapsLaw _),
    "q137_pmi_collocations" -> (pmiCollocations _),
    "q96_classifier_auc" -> (classifierAuc _),
    "q95_classifier_calibration" -> (classifierCalibration _),
    "q108_calibrated_threshold" -> (calibratedThreshold _),
    "q109_pii_validated" -> (piiValidated _),
    "q112_source_divergence" -> (sourceDivergence _),
    "q115_dsir_weights" -> (dsirWeights _),
    "q117_source_caps" -> (sourceCaps _),
    "q118_bpe_fertility" -> (bpeFertility _),
    "q120_mixture_weights" -> (mixtureWeights _),
    "q122_lang_confusion" -> (langConfusion _),
    "q94_learned_curation" -> (learnedBudgetCuration _),
    "q93_bpe_token_counts" -> (bpeTokenCounts _),
    "q92_bpe_merge_table" -> (bpeMergeTable _),
    "q91_quality_classifier" -> (qualityClassifier _),
    "q90_corpus_card" -> (corpusCard _),
    "q89_pii_scrub" -> (piiScrub _),
    "q87_zipf_slope" -> (zipfSlope _),
    "q78_token_budget_curation" -> (tokenBudgetCuration _),
    "q73_bigram_lm" -> (bigramLm _),
    "q74_bigram_surprisal" -> (bigramSurprisal _),
    "q57_ngram_novelty" -> (ngramNovelty _),
    "q55_unigram_surprisal" -> (unigramSurprisal _),
    "q56_char_entropy" -> (charEntropy _),
    "q46_lang_mixture" -> (langMixture _),
    "q47_sequence_packing" -> (sequencePacking _),
    "q39_repetition_stats" -> (repetitionStats _),
    "q36_doc_chunks" -> (docChunks _),
    "q37_top_terms_per_doc" -> (topTermsPerDoc _),
    "q38_stratified_sample" -> (stratifiedSample _),
    "q99_weighted_sample" -> (weightedSample _),
    "q101_kn_bigram_lm" -> (knBigramLm _),
    "q102_kn_surprisal" -> (knSurprisal _),
    "q144_source_surprisal" -> (sourceKnSurprisal _),
    "q147_packing_efficiency" -> (packingEfficiency _),
    "q153_signal_agreement" -> (signalAgreement _),
    "q103_clean_text" -> (cleanText _),
    "q30_text_quality" -> (textQuality _),
    "q175_source_token_quantiles" -> (sourceTokenQuantiles _),
    "q31_token_counts" -> (tokenCounts _),
    "q32_lang_stats" -> (langStats _),
    "q33_langid" -> (langId _),
    "q34_fingerprints" -> (fingerprints _),
    "q35_simhash" -> (simhash _))

  val oracles: Map[String, String] = Map(
    "q126_truncation_loss" -> truncationLossSql,
    "q127_gopher_rules" -> gopherRulesSql,
    "q132_holdout_auc" -> holdoutAucSql,
    "q133_source_scorecard" -> sourceScorecardSql,
    "q134_heaps_law" -> heapsLawSql,
    "q137_pmi_collocations" -> pmiCollocationsSql,
    "q96_classifier_auc" -> classifierAucSql,
    "q95_classifier_calibration" -> classifierCalibrationSql,
    "q108_calibrated_threshold" -> calibratedThresholdSql,
    "q109_pii_validated" -> piiValidatedSql,
    "q112_source_divergence" -> sourceDivergenceSql,
    "q115_dsir_weights" -> dsirWeightsSql,
    "q117_source_caps" -> sourceCapsSql,
    "q118_bpe_fertility" -> bpeFertilitySql,
    "q120_mixture_weights" -> mixtureWeightsSql,
    "q122_lang_confusion" -> langConfusionSql,
    "q94_learned_curation" -> learnedBudgetCurationSql,
    "q93_bpe_token_counts" -> bpeTokenCountsSql,
    "q92_bpe_merge_table" -> bpeMergeTableSql,
    "q91_quality_classifier" -> qualityClassifierSql,
    "q90_corpus_card" -> corpusCardSql,
    "q89_pii_scrub" -> piiScrubSql,
    "q87_zipf_slope" -> zipfSlopeSql,
    "q78_token_budget_curation" -> tokenBudgetCurationSql,
    "q73_bigram_lm" -> bigramLmSql,
    "q74_bigram_surprisal" -> bigramSurprisalSql,
    "q57_ngram_novelty" -> ngramNoveltySql,
    "q55_unigram_surprisal" -> unigramSurprisalSql,
    "q56_char_entropy" -> charEntropySql,
    "q46_lang_mixture" -> langMixtureSql,
    "q47_sequence_packing" -> sequencePackingSql,
    "q39_repetition_stats" -> repetitionStatsSql,
    "q36_doc_chunks" -> docChunksSql,
    "q37_top_terms_per_doc" -> topTermsPerDocSql,
    "q38_stratified_sample" -> stratifiedSampleSql,
    "q99_weighted_sample" -> weightedSampleSql,
    "q101_kn_bigram_lm" -> knBigramLmSql,
    "q102_kn_surprisal" -> knSurprisalSql,
    "q144_source_surprisal" -> sourceKnSurprisalSql,
    "q147_packing_efficiency" -> packingEfficiencySql,
    "q153_signal_agreement" -> signalAgreementSql,
    "q103_clean_text" -> cleanTextSql,
    "q30_text_quality" -> textQualitySql,
    "q175_source_token_quantiles" -> sourceTokenQuantilesSql,
    "q31_token_counts" -> tokenCountsSql,
    "q32_lang_stats" -> langStatsSql,
    "q33_langid" -> langIdSql,
    "q34_fingerprints" -> fingerprintsSql,
    "q35_simhash" -> simhashSql)
}
