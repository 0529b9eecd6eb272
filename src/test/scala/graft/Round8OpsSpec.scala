package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimilarityOps}

/** Round-8 additions: residual IVF-PQ (IVFADC proper — VERDICT r7 #1),
  * memo lifecycle, multi-n decontamination, calibrated threshold,
  * validated PII.
  *
  * The dominance test pins the declared q105 configuration: training the
  * PQ codebooks on residuals v − centroid(v) must hold-or-improve the
  * composed recall curve at EVERY probe depth relative to the
  * pre-round-8 raw-vector geometry, measured by the exact same curve
  * machinery over the same corpus and coarse quantizer. (A single-query
  * curve moves in 0.02 steps, so this pins the declared operating
  * configuration, not a statistical claim — the 50-query mean-recall
  * panel and the measured near-isotropy context are in SCALE.md's PQ
  * (q98) bullet.)
  */
class Round8OpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("residual PQ recall curve dominates the raw-vector geometry at every nprobe") {
    val residual = SimilarityOps.ivfPqRecallCurve(spark, dir).collect()
      .map(r => r.getAs[Long]("nprobe") -> r.getAs[Double]("recall")).toMap
    val (rawCent, rawAsg) = SimilarityOps.rawPqModel(spark, dir)
    val raw = SimilarityOps.pqCurveFor(spark, dir, rawCent, rawAsg, residual = false)
      .collect().map(r => r.getAs[Long]("nprobe") -> r.getAs[Double]("recall")).toMap

    SimilarityOps.NProbeSweep.map(_.toLong).foreach { np =>
      assert(residual(np) >= raw(np),
        s"residual recall ${residual(np)} < raw ${raw(np)} at nprobe=$np " +
          s"(residual curve: $residual, raw curve: $raw)")
    }
    // The switch must buy something, not just tie everywhere.
    assert(SimilarityOps.NProbeSweep.map(_.toLong)
        .exists(np => residual(np) > raw(np)),
      s"residual geometry bought no recall anywhere: residual=$residual raw=$raw")
  }

  test("Memos.release(dir) returns storage to baseline; re-derivation reproduces the frames") {
    import graft.operators.{DedupOps, Memos}
    // Clean slate for this dir (earlier suites/tests may have memoized it).
    // Baseline is the SET of persisted RDD ids, not the raw count: other
    // suites' localCheckpoint blocks are swept ASYNCHRONOUSLY by the
    // ContextCleaner, so a raw-count equality races with the sweep (the
    // r11 flake). Tracking the ids THIS test adds is sweep-immune — the
    // cleaner can't touch them while the Memos registry holds a reference.
    Memos.release(dir)
    val baseIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

    val before = DedupOps.minhashDupPairs(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    SimilarityOps.annIvf(spark, dir).count() // k-means model memo
    val added =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseIds
    assert(added.nonEmpty, "memoized frames should be persisted after use")

    val evicted = Memos.release(dir)
    assert(evicted > 0, "release evicted nothing")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet & added
    assert(leaked.isEmpty,
      s"release left this test's frames persisted: RDD ids $leaked")

    // Releasing loses nothing but cache: the same frames re-derive.
    val after = DedupOps.minhashDupPairs(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    assert(before == after, "re-derivation after release changed the frame")
    Memos.release(dir)
  }

  test("q107 multi-n decontamination: n=13 drops the borderline 8-token quote") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_multin").toString
    val alpha = (0 until 20).map(i => s"alpha$i")
    val bench = alpha.mkString(" ") // doc 97: benchmark slice (97 % 97 == 0)
    // doc 1: quotes 13 CONSECUTIVE benchmark tokens — contamination by the
    // published 13-gram standard; must survive at both window lengths.
    val quote13 = ((0 until 30).map(i => s"uniq$i") ++ alpha.slice(3, 16) ++
      (0 until 20).map(i => s"tail$i")).mkString(" ")
    // doc 2: quotes exactly 8 consecutive tokens — the borderline tier
    // the aggressive floor flags and the 13-gram standard drops.
    val quote8 = ((0 until 30).map(i => s"mid$i") ++ alpha.slice(5, 13) ++
      (0 until 20).map(i => s"end$i")).mkString(" ")
    val clean = (0 until 40).map(i => s"clean$i").mkString(" ")
    Seq((97L, bench), (1L, quote13), (2L, quote8), (3L, clean))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val byN = DedupOps.verbatimMultiN(spark, out).collect()
      .groupBy(_.getAs[Long]("n"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(byN(8L) == Set(1L, 2L), s"n=8 flagged ${byN.get(8L)}, expected {1, 2}")
    assert(byN(13L) == Set(1L), s"n=13 flagged ${byN.get(13L)}, expected {1}")
    // q83's declared floor is the n=8 row of the sweep, row for row.
    val q83 = DedupOps.verbatimDecontamination(spark, out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_windows"))).toSet
    val sweep8 = DedupOps.verbatimMultiN(spark, out)
      .filter(col("n") === 8L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_windows"))).toSet
    assert(q83 == sweep8)
  }

  test("q108 picks the lowest decile cut fitting the q94 budget; ECE ties to q95") {
    import graft.operators.TextAnalysisOps
    val out = TextAnalysisOps.calibratedThreshold(spark, dir).collect()
    assert(out.length == 1, "expected exactly one operating point")
    val row = out(0)
    val threshold = row.getAs[Double]("threshold")
    val budget = row.getAs[Long]("budget")
    assert(row.getAs[Long]("kept_tokens") <= budget)

    // The declared selection rule, recomputed from the candidate table:
    // lowest decile whose cumulative-from-top token mass fits the budget.
    val cand = TextAnalysisOps.thresholdCandidates(spark, dir).collect()
      .map(r => (r.getAs[Long]("p_decile"), r.getAs[Long]("cum_tok")))
      .sortBy(_._1)
    val fitting = cand.filter(_._2 <= budget).map(_._1)
    assert(fitting.nonEmpty && threshold == fitting.min / 10.0,
      s"threshold $threshold != lowest fitting decile ${fitting.headOption}/10")
    cand.filter(_._1 < fitting.min)
      .foreach { case (d, t) => assert(t > budget, s"decile $d also fits") }

    // Tie to q95: kept_docs is the sum of the reliability table's bins at
    // or above the threshold, and the scalar ECE matches the table's
    // weighted |pos_rate - mean_p| (rounded columns => loose tolerance).
    val q95 = TextAnalysisOps.classifierCalibration(spark, dir).collect()
    val keptDocs = q95.filter(_.getAs[Long]("p_decile") >= (threshold * 10).round)
      .map(_.getAs[Long]("n_docs")).sum
    assert(row.getAs[Long]("kept_docs") == keptDocs)
    val n = q95.map(_.getAs[Long]("n_docs")).sum.toDouble
    val eceFromTable = q95.map { r =>
      (r.getAs[Long]("n_docs") / n) *
        math.abs(r.getAs[Double]("pos_rate") - r.getAs[Double]("mean_p"))
    }.sum
    assert(math.abs(row.getAs[Double]("ece") - eceFromTable) < 2e-5,
      s"ece ${row.getAs[Double]("ece")} vs q95-table $eceFromTable")
  }

  test("q109 validation rejects checksum-failing lookalikes, keeps genuine PII") {
    import spark.implicits._
    import graft.operators.TextAnalysisOps
    val out = java.nio.file.Files.createTempDirectory("graft_piiv").toString
    Seq(
      (1L, "pay with 4539 1488 0343 6467 now"), // valid Luhn (Visa test number)
      (2L, "fake card 4539 1488 0343 6468 here"), // last digit off: fails Luhn
      (3L, "host at 10.2.3.4 and bogus 999.300.1.1"), // one in-range, one not
      (4L, "send to GB82WEST12345698765432 please"), // valid ISO 7064 mod-97
      (5L, "typo'd GB82WEST12345698765433 account"), // residue != 1
      (6L, "nothing sensitive here at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val m = TextAnalysisOps.piiValidated(spark, out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Long]("n_card_cand") == 1 && m(1L).getAs[Long]("n_card_valid") == 1)
    assert(m(2L).getAs[Long]("n_card_cand") == 1 && m(2L).getAs[Long]("n_card_valid") == 0,
      "checksum-failing card lookalike must stay a candidate, never valid")
    assert(m(3L).getAs[Long]("n_ip_cand") == 2 && m(3L).getAs[Long]("n_ip_valid") == 1,
      "out-of-range octets must fail IP validation")
    assert(m(4L).getAs[Long]("n_iban_cand") == 1 && m(4L).getAs[Long]("n_iban_valid") == 1)
    assert(m(5L).getAs[Long]("n_iban_cand") == 1 && m(5L).getAs[Long]("n_iban_valid") == 0,
      "mod-97-failing IBAN lookalike must stay a candidate, never valid")
    assert(m(1L).getAs[Boolean]("has_valid_pii") && m(3L).getAs[Boolean]("has_valid_pii")
      && m(4L).getAs[Boolean]("has_valid_pii"))
    assert(!m(2L).getAs[Boolean]("has_valid_pii") && !m(5L).getAs[Boolean]("has_valid_pii")
      && !m(6L).getAs[Boolean]("has_valid_pii"))
  }

  test("q110 panel curve: monotone in nprobe, bounded, informative at depth") {
    val panel = SimilarityOps.pqRecallPanel(spark, dir).orderBy("nprobe").collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("mean_recall")))
    assert(panel.map(_._1).toSeq == SimilarityOps.NProbeSweep.map(_.toLong))
    val cap = SimilarityOps.TopK.toLong * SimilarityOps.NPanel
    panel.foreach { case (np, h, r) =>
      assert(h >= 0 && h <= cap, s"n_hits $h outside [0, $cap] at nprobe=$np")
      assert(r >= 0.0 && r <= 1.0)
    }
    // Unlike q79's probe-coverage curve, ADC misranking makes strict
    // per-step monotonicity non-guaranteed (a new closer-by-ADC candidate
    // can evict a true hit) — but the wide-vs-narrow gap is structural:
    // probing 8 of 10 cells must beat probing 1 by a wide margin.
    assert(panel.last._3 > panel.head._3,
      s"widest probe no better than narrowest: ${panel.toSeq}")
    assert(panel.last._3 > 0.3, s"widest-probe panel recall implausibly low: ${panel.last}")
  }

  test("q111 re-rank: exact order over the ADC shortlist; never below plain ADC recall") {
    val rerank = SimilarityOps.annIvfPqRerank(spark, dir).collect()
    assert(rerank.length == SimilarityOps.TopK)
    assert(rerank.map(_.getAs[Long]("rank")).toSeq == (1L to rerank.length).toSeq)
    // cos column is the EXACT cosine: the top hit is the query itself.
    assert(rerank.head.getAs[Long]("vec_id") == SimilarityOps.QueryVecId)
    assert(math.abs(rerank.head.getAs[Double]("cos") - 1.0) < 1e-9)

    val exact = SimilarityOps.annBruteForce(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val adcHits = SimilarityOps.annIvfPq(spark, dir).collect()
      .map(_.getAs[Long]("vec_id")).count(exact.contains)
    val rrHits = rerank.map(_.getAs[Long]("vec_id")).count(exact.contains)
    // Structural guarantee: an exact-top-k member in the ADC top-TopK is
    // also in the top-RerankK shortlist, and exact re-ranking keeps it.
    assert(rrHits >= adcHits,
      s"re-rank recall $rrHits below plain ADC recall $adcHits")

    // The re-ranked list is the exact cosine order restricted to the
    // shortlist: its cosines are non-increasing and every emitted cosine
    // matches the brute-force value for that vec_id.
    val cosOf = SimilarityOps.annBruteForce(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    rerank.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("cos") >= b.getAs[Double]("cos") - 1e-9)
    }
    rerank.filter(r => cosOf.contains(r.getAs[Long]("vec_id"))).foreach { r =>
      assert(math.abs(r.getAs[Double]("cos") - cosOf(r.getAs[Long]("vec_id"))) < 1e-9,
        s"re-ranked cosine differs from brute force for ${r.getAs[Long]("vec_id")}")
    }
  }

  test("q112 source KL: nonnegative, zero for a lone source, high for a templated one") {
    import spark.implicits._
    import graft.operators.TextAnalysisOps
    val out = java.nio.file.Files.createTempDirectory("graft_kl").toString
    val varied = (0 until 50).map(i => s"word$i").mkString(" ")
    Seq(
      (1L, varied, "crawl_a"), (2L, varied, "crawl_a"),
      (3L, varied, "crawl_b"), (4L, varied, "crawl_b"),
      (5L, Seq.fill(100)("spam").mkString(" "), "template"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val kl = TextAnalysisOps.sourceDivergence(spark, out).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("kl_unigram")).toMap
    kl.values.foreach(v => assert(v >= -1e-9, s"negative KL: $kl"))
    assert(kl("template") > kl("crawl_a") + 0.5,
      s"templated source not flagged: $kl")
    assert(kl("crawl_a") == kl("crawl_b"))

    // A lone source IS the corpus distribution: KL exactly 0.
    val solo = java.nio.file.Files.createTempDirectory("graft_kl1").toString
    Seq((1L, varied, "only"), (2L, "alpha beta alpha", "only"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$solo/documents.parquet")
    val k1 = TextAnalysisOps.sourceDivergence(spark, solo).collect()
    assert(k1.length == 1 && k1(0).getAs[Double]("kl_unigram") == 0.0)
  }

  test("q113 release pipeline excludes the benchmark slice and contaminated docs; q82 doesn't") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_release").toString
    val alpha = (0 until 20).map(i => s"alpha$i")
    val quoted = ((0 until 30).map(i => s"uniq$i") ++ alpha.slice(5, 13) ++
      (0 until 20).map(i => s"tail$i")).mkString(" ")
    val dupText = (0 until 40).map(i => s"dup$i").mkString(" ")
    Seq(
      (97L, alpha.mkString(" "), "bench"), // benchmark slice (97 % 97 == 0)
      (1L, quoted, "crawl"), // verbatim-contaminated
      (3L, (0 until 40).map(i => s"clean$i").mkString(" "), "crawl"),
      (4L, dupText, "crawl"), (5L, dupText, "crawl")) // exact near-dup pair
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val release = DedupOps.releasePipeline(spark, out).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val plain = DedupOps.curationPipeline(spark, out).collect()
      .map(_.getAs[Long]("doc_id")).toSet

    // The gates are exactly what q113 adds over q82.
    assert(plain.contains(97L) && plain.contains(1L),
      s"q82 should carry bench + contaminated winners: $plain")
    assert(!release.contains(97L), "benchmark doc shipped in the release")
    assert(!release.contains(1L), "contaminated doc shipped in the release")
    assert(release.contains(3L), "clean doc missing from the release")
    // keep-best collapsed the exact-dup pair to its lowest-id winner
    // (already in q82), and the release is exactly q82 minus the gated ids.
    assert(plain == Set(97L, 1L, 3L, 4L), s"unexpected q82 winner set: $plain")
    assert(release == Set(3L, 4L), s"unexpected release set: $release")
  }

  test("q114 image keep-best: the higher-resolution twin wins its perceptual pair") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    val out = java.nio.file.Files.createTempDirectory("graft_ikb").toString
    val base = (0 until 80).map(i => s"tok${i % 13} word$i").mkString(" ")
    val nearDup = base.replace("word40", "word41") // same length, tiny edit
    val other = (0 until 90).map(i => s"zz${(i * 7) % 17} qq$i").mkString(" ")
    // Same payload length => pixels differ only via the doc_id factor:
    // doc 20's stub resolution is higher than doc 10's.
    Seq((10L, base), (20L, nearDup), (30L, other))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val pairs = MultimodalOps.imageNearDups(spark, out).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((10L, 20L)), s"planted perceptual pair missing: ${pairs.toSeq}")

    val m = MultimodalOps.imageKeepBest(spark, out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!m(10L).getAs[Boolean]("kept") &&
      m(10L).getAs[Long]("better_neighbor") == 20L,
      "lower-resolution twin should lose to doc 20")
    assert(m(20L).getAs[Boolean]("kept") &&
      m(20L).getAs[Long]("better_neighbor") == -1L)
    assert(m(30L).getAs[Boolean]("kept"), "unpaired image must keep")
    assert(m(20L).getAs[Long]("pixels") > m(10L).getAs[Long]("pixels"))
  }

  test("residual codes reconstruct better than raw codes (mean sq_err strictly lower)") {
    // The mechanism behind the recall win: 64 bits spent on within-cell
    // variance quantize what remains after the probe. Mean squared
    // reconstruction error of the residual codebooks must beat the raw
    // geometry's on the same corpus.
    val residErr = SimilarityOps.pqModel(spark, dir)._2
      .agg(avg(col("dist").cast("double"))).collect()(0).getDouble(0)
    val rawErr = SimilarityOps.rawPqModel(spark, dir)._2
      .agg(avg(col("dist").cast("double"))).collect()(0).getDouble(0)
    assert(residErr < rawErr,
      s"residual mean sq_err $residErr not below raw $rawErr")
  }
}
