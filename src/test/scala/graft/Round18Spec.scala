package graft

/** Round-18 pins — absolute serve-wall envelopes (VERDICT r17 #2/#3):
  * the ratio pins are structurally blind to a proportional wall rise
  * (the r15→r17 pq_batch20 ratchet passed every ratio check), so the
  * registry gained two absolute-milliseconds sections — `walls`
  * (ServeProbe context, checked by tools/check_pins.py) and
  * `bench_walls` (bench context, folded into Bench's in-artifact
  * pins_ok). These tests pin the section NAMES and the
  * fail-on-unmeasured semantics so neither can silently rot out of
  * the verdict.
  */
class Round18Spec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import graft.operators.SimilarityOps
  import graft.operators.SimilarityOps.PayloadFilter

  val sf = "/root/testdata/sf0.001"

  private lazy val idx: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_idx").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    dir
  }

  /** Panel requests carrying every payload predicate value: the label
    * (q208/q211 fixture) plus the query's own document's lang/n_chars
    * (the q212 fixture). */
  private def panelQueries = spark.read.parquet(s"$sf/embeddings.parquet")
    .filter(col("vec_id") < SimilarityOps.NPanel)
    .join(spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("vec_id"), col("lang").as("flang"),
        col("n_chars").cast("long").as("fchars")), "vec_id")
    .select(col("vec_id").as("query_id"), col("embedding"),
      col("label").cast("long").as("flabel"), col("flang"), col("fchars"))

  private val shapes: Seq[(String, Seq[PayloadFilter])] = Seq(
    "lang_eq" -> Seq(PayloadFilter("lang", "eq", "flang")),
    "chars_le" -> Seq(PayloadFilter("n_chars", "le", "fchars")),
    "conj" -> Seq(PayloadFilter("lang", "eq", "flang"),
      PayloadFilter("n_chars", "le", "fchars")))

  // ---- q212: generalized payload filters (VERDICT r17 #2) -------------------

  test("generalized filtered serve ≡ the q212 census per shape: same " +
    "strategy, same (rank, vec_id, score) — string eq, long range, and " +
    "the 2-conjunction all dispatch from the artifact estimators") {
    val census = SimilarityOps.payloadFilterPlan(spark, sf).collect()
      .map(r => (r.getAs[String]("shape"), r.getAs[Long]("qid"),
        r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"),
          r.getAs[Double]("score"))).toMap
    assert(census.nonEmpty)
    val served = shapes.flatMap { case (shape, filters) =>
      SimilarityOps.tierServeManyFilteredBy(spark, idx, panelQueries, filters)
        .collect()
        .map(r => (shape, r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"),
            r.getAs[Double]("score")))
    }.toMap
    assert(served == census,
      s"generalized serve diverged from q212: ${served.size} vs ${census.size}")
    // Both arms genuinely fire across the shapes.
    val strategies = served.values.map(_._2).toSet
    assert(strategies == Set("pre", "post"), s"arms exercised: $strategies")
  }

  test("generalized post arm rides the coded tiers: each tier's " +
    "filtered answers come from ITS OWN overfetched shortlist (forced " +
    "post ≡ predicate over the tier's unfiltered shortlist, re-ranked)") {
    val filters = Seq(PayloadFilter("n_chars", "le", "fchars"))
    val q = panelQueries
    val payload = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("vec_id"), col("n_chars").cast("long").as("vchars"))
    val fch = q.select("query_id", "fchars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq("int8", "binary", "pq", "pq_rerank").foreach { tier =>
      val served = SimilarityOps.tierServeManyFilteredBy(
        spark, idx, q, filters, tier = tier, strategy = "post").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          r.getAs[Long]("vec_id")).toMap
      // Analytic twin: the tier's own unfiltered shortlist at overfetch
      // depth, then the predicate, re-ranked in shortlist order.
      val shortlist = (tier match {
        case "int8" => SimilarityOps.annInt8ServeMany(spark, idx,
          q.select("query_id", "embedding"),
          depth = SimilarityOps.TopK * SimilarityOps.FilterOverfetch)
        case "binary" => SimilarityOps.annBinaryServeMany(spark, idx,
          q.select("query_id", "embedding"),
          depth = SimilarityOps.TopK * SimilarityOps.FilterOverfetch)
        case "pq" => SimilarityOps.annPqServeMany(spark, idx,
          q.select("query_id", "embedding"),
          depth = SimilarityOps.TopK * SimilarityOps.FilterOverfetch)
        case "pq_rerank" => SimilarityOps.annPqRerankServeMany(spark, idx,
          q.select("query_id", "embedding"),
          depth = SimilarityOps.TopK * SimilarityOps.FilterOverfetch)
      }).join(payload, "vec_id").collect()
      val expect = shortlist
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"), r.getAs[Long]("vchars")))
        .filter { case (qid, _, _, vchars) => vchars <= fch(qid) }
        .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
          rows.sortBy(_._2).take(SimilarityOps.TopK).zipWithIndex.map {
            case ((_, _, vid, _), i) => (qid, i + 1L) -> vid
          }
        }.toMap
      assert(served == expect, s"tier $tier post arm diverged: " +
        s"${served.size} vs ${expect.size} rows")
    }
  }

  test("generalized filtered serve fails LOUD on a NULL predicate value, " +
    "naming the value column") {
    val conj = Seq(PayloadFilter("lang", "eq", "flang"),
      PayloadFilter("n_chars", "le", "fchars"))
    val q = panelQueries.withColumn("fchars",
      when(col("query_id") === 0L, lit(null).cast("long")).otherwise(col("fchars")))
    val err = intercept[IllegalArgumentException] {
      SimilarityOps.tierServeManyFilteredBy(spark, idx, q, conj)
    }
    assert(err.getMessage.contains("NULL fchars in the request frame"), err.getMessage)
  }

  test("generalized filtered serve on an empty request frame: 0 rows in " +
    "the answer schema, query_id keeping the caller's type") {
    val q = panelQueries.limit(0).withColumn("query_id", col("query_id").cast("string"))
    val out = SimilarityOps.tierServeManyFilteredBy(spark, idx, q,
      Seq(PayloadFilter("label", "le", "flabel")))
    assert(out.columns.toSeq == Seq("query_id", "vec_id", "rank", "score", "strategy"))
    assert(out.schema("query_id").dataType == org.apache.spark.sql.types.StringType)
    assert(out.count() == 0)
  }

  // ---- q211: composed filter × tier dispatch (VERDICT r17 #1) ---------------

  test("q211's post rows ≡ the label filter served at their tier_final — " +
    "the composed census answers each post query from its routed " +
    "tier's own filtered twin") {
    val census = SimilarityOps.filterTierPlan(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"),
          r.getAs[String]("tier_final")))
    val censusMap = census.toMap
    assert(censusMap.size == census.length, "duplicate (query, rank) rows")
    assert(censusMap.values.map(_._2).toSet == Set("pre", "post"),
      "both filter arms should fire on the q208 fixture")
    val postTiers = censusMap.collect {
      case ((qid, _), (_, "post", tier)) => qid -> tier
    }.toSeq.distinct.groupBy(_._2)
    assert(postTiers.nonEmpty, "no post queries routed — fixture degenerate")
    postTiers.foreach { case (tier, qids) =>
      val ids = qids.map(_._1).toSet
      val twin = SimilarityOps.tierServeManyFilteredBy(spark, idx,
        panelQueries.filter(col("query_id").isin(ids.toSeq: _*)),
        Seq(PayloadFilter("label", "le", "flabel")), tier = tier)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"))).toMap
      val mine = censusMap.collect {
        case ((qid, rank), (vid, st, _)) if ids(qid) => (qid, rank) -> (vid, st)
      }
      assert(mine == twin, s"q211 post rows at tier $tier ≠ its filtered twin")
    }
  }

  // ---- payload lifecycle + estimator artifact (VERDICT r17 #2) --------------

  test("generalized payload survives the maintenance lifecycle and " +
    "payload_sizes tracks the live table: build == recount, delete " +
    "decrements (artifact bounds kept), compaction + retrain refresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_life").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    def payloadMap = SimilarityOps.vectorsDf(spark, dir)
      .filter(col("lang").isNotNull)
      .select("vec_id", "lang", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    def artifact = SimilarityOps.indexPayloadSizes(spark, dir)
    def checkArtifact(tag: String): Unit = {
      val bounds = artifact.find(_.pcol == "n_chars").map(r => (r.lo, r.hi))
      val recount = SimilarityOps.recountPayloadSizes(spark, dir, bounds)
      assert(artifact.toSet == recount.toSet,
        s"$tag: payload_sizes != recount\n${artifact.toSet}\n${recount.toSet}")
    }
    val before = payloadMap
    assert(before.size == 500, s"fresh payload rows: ${before.size}")
    checkArtifact("fresh build")
    // Payload-less streamed delta: NULL payload, estimators unmoved.
    val extra = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 40)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    graft.streaming.StreamingOps.ingestBatch(extra, 3L, dir)
    assert(payloadMap == before, "ingest moved payload")
    checkArtifact("post-ingest")
    // Delete: rows gone, per-value and per-bin counts decremented with
    // the ARTIFACT's recorded histogram bounds (model state).
    val doomed = before.keys.toSeq.sorted.take(25)
    val boundsBefore = artifact.find(_.pcol == "n_chars").map(r => (r.lo, r.hi))
    SimilarityOps.deleteVectors(spark, dir, doomed)
    val after = payloadMap
    assert(after == before -- doomed, "delete left or dropped payload rows")
    assert(artifact.find(_.pcol == "n_chars").map(r => (r.lo, r.hi))
      == boundsBefore, "delete moved the histogram bounds")
    checkArtifact("post-delete")
    assert(artifact.filter(_.pcol == "lang").map(_.cnt).sum == 475L,
      "lang counts not decremented")
    // Folds and retrain keep the payload and refresh the estimator.
    SimilarityOps.compactVectors(spark, dir)
    assert(payloadMap == after, "compaction moved payload")
    checkArtifact("post-compaction")
    SimilarityOps.retrainIndex(spark, dir)
    assert(payloadMap == after, "retrain moved payload")
    checkArtifact("post-retrain")
    // The generalized serve still answers from the rebuilt geometry.
    assert(SimilarityOps.tierServeManyFilteredBy(spark, dir,
      panelQueries, Seq(PayloadFilter("lang", "eq", "flang"))).count() > 0)
  }

  test("generalized pre arm pushes BOTH conjuncts into the parquet " +
    "scan (PushedFilters on lang AND n_chars) — the 100 TB reason the " +
    "typed payload lives ON the vector rows") {
    val filters = Seq(PayloadFilter("lang", "eq", "flang"),
      PayloadFilter("n_chars", "le", "fchars"))
    val plan = SimilarityOps
      .tierServeManyFilteredBy(spark, idx, panelQueries, filters,
        strategy = "pre")
      .queryExecution.executedPlan.toString
    assert(plan.contains("IsNotNull(lang)") && plan.contains("In(lang") &&
      plan.contains("IsNotNull(n_chars)") &&
      plan.contains("LessThanOrEqual(n_chars"),
      s"conjunctive payload predicate not pushed to the scan:\n$plan")
  }

  // ---- q214: generalized payload × routed tier ------------------------------

  test("q214's post rows ≡ tierServeManyFilteredBy of their tier_final " +
    "— the conjunctive predicate rides the tier lattice end to end") {
    val conj = Seq(PayloadFilter("lang", "eq", "flang"),
      PayloadFilter("n_chars", "le", "fchars"))
    val census = SimilarityOps.payloadTierPlan(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"),
          r.getAs[String]("tier_final")))
    val censusMap = census.toMap
    assert(censusMap.size == census.length, "duplicate (query, rank) rows")
    assert(censusMap.values.map(_._2).toSet == Set("pre", "post"))
    val postTiers = censusMap.collect {
      case ((qid, _), (_, "post", tier)) => qid -> tier
    }.toSeq.distinct.groupBy(_._2)
    postTiers.foreach { case (tier, qids) =>
      val ids = qids.map(_._1).toSet
      val twin = SimilarityOps.tierServeManyFilteredBy(spark, idx,
        panelQueries.filter(col("query_id").isin(ids.toSeq: _*)),
        conj, tier = tier).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"))).toMap
      val mine = censusMap.collect {
        case ((qid, rank), (vid, st, _)) if ids(qid) => (qid, rank) -> (vid, st)
      }
      assert(mine == twin,
        s"q214 post rows at tier $tier ≠ its generalized filtered twin")
    }
  }

  // ---- q213: six-arm census — hybrid joins the lattice (VERDICT r17 #7) -----

  test("q213 six-arm census: some query routes hybrid, and a query " +
    "routes hybrid iff its rare-term mass is positive") {
    val census = SimilarityOps.textRoutePlan(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[String]("tier_final"), r.getAs[Double]("rare_mass"))).toMap
    // The fixture genuinely exercises the sixth arm: rare-mass queries
    // exist and route hybrid; zero-mass queries never do.
    assert(census.values.exists(_._1 == "hybrid"),
      "no query routed hybrid — fixture degenerate")
    census.foreach { case (q, (t, rm)) =>
      assert((t == "hybrid") == (rm > 0.0),
        s"q$q: rare_mass=$rm routed $t — membership rule broken")
    }
  }

  // ---- ledger-debt trigger (VERDICT r17 #4) ---------------------------------

  test("upsert-ledger debt trigger: churn past the bound fires the " +
    "physical apply — ledger cleared, stale copies gone, answers " +
    "invariant, replay does not re-fire") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_led").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    // Re-ingest 20 EXISTING ids with shifted content — 20 true upserts.
    val delta = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= 100L && col("vec_id") < 120L)
      .select((col("vec_id") - 100L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    StreamingOps.ingestBatch(delta, 5L, dir)
    assert(SimilarityOps.indexUpserts(spark, dir).size == 20,
      "churn did not ledger 20 true upserts")
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 100L)
      .select(lit(0L).as("query_id"), col("embedding"))
      .localCheckpoint(true)
    val before = SimilarityOps.annIvfServeMany(spark, dir, q).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq
    // Below the bound: no fire. Above: fire, clear, physical dedup.
    assert(!StreamingOps.maybeApplyUpserts(spark, dir, threshold = 20),
      "trigger fired below its bound")
    assert(StreamingOps.maybeApplyUpserts(spark, dir, threshold = 10),
      "trigger did not fire above its bound")
    assert(SimilarityOps.indexUpserts(spark, dir).isEmpty, "ledger not cleared")
    val dups = SimilarityOps.vectorsDf(spark, dir)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dups == 0L, s"$dups stale copies survived the apply")
    val after = SimilarityOps.annIvfServeMany(spark, dir, q).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq
    assert(after == before, "answers moved across the ledger apply")
    // Replay of the very batch: the overwrite is idempotent, the
    // existence probe finds no older copies (they are physically gone),
    // so the ledger stays empty and the trigger has nothing to re-fire.
    StreamingOps.ingestBatch(delta, 5L, dir)
    assert(SimilarityOps.indexUpserts(spark, dir).isEmpty,
      "replay re-armed the ledger")
    assert(!StreamingOps.maybeApplyUpserts(spark, dir, threshold = 10),
      "trigger re-fired on a replay")
    val replayed = SimilarityOps.annIvfServeMany(spark, dir, q).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq
    assert(replayed == before, "answers moved across the replay")
  }

  // ---- streaming delete twin (VERDICT r17 #5) -------------------------------

  test("streaming takedowns: a forget stream removes rows from the " +
    "table and ALL FIVE serving tiers; a replay after a re-ingest of " +
    "the same id does NOT delete the new copy (ack-marker guard)") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r18_fgt").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    val doomed = (0L until 8L).toSet
    val reqDir = java.nio.file.Files.createTempDirectory("graft_r18_req").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 8).select("vec_id")
      .write.mode("overwrite").parquet(reqDir)
    def runForget(): Unit = {
      val reqs = spark.readStream.schema("vec_id BIGINT").parquet(reqDir)
      val s = StreamingOps.indexForget(reqs, dir).start()
      s.processAllAvailable(); s.stop()
    }
    val q3 = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 3L)
      .select(lit(0L).as("query_id"), col("embedding"))
      .localCheckpoint(true)
    runForget()
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id") < 8).count() == 0L, "rows survived the takedown")
    assert(StreamingOps.readForgetMarker(spark, dir).contains(0L),
      "forget batch not acked")
    // Gone from every serving tier, queried BY the deleted content.
    val tiers = Seq[(String, org.apache.spark.sql.DataFrame)](
      "float" -> SimilarityOps.annIvfServeMany(spark, dir, q3),
      "int8" -> SimilarityOps.annInt8ServeMany(spark, dir, q3),
      "binary" -> SimilarityOps.annBinaryServeMany(spark, dir, q3),
      "pq" -> SimilarityOps.annPqServeMany(spark, dir, q3),
      "pq_rerank" -> SimilarityOps.annPqRerankServeMany(spark, dir, q3))
    tiers.foreach { case (t, df) =>
      val hits = df.collect().map(_.getAs[Long]("vec_id")).toSet & doomed
      assert(hits.isEmpty, s"tier $t still serves deleted rows: $hits")
    }
    // Re-ingest vec 0 with new content, then REPLAY the forget stream
    // (fresh checkpoint → the same batchId 0): the marker pins the
    // takedown to its own stream position, so the new copy survives.
    val reIngest = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 200L)
      .select(lit(0L).as("vec_id"), col("embedding"))
    StreamingOps.ingestBatch(reIngest, 12L, dir)
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id") === 0L).count() == 1L)
    runForget()
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id") === 0L).count() == 1L,
      "replayed takedown deleted a copy re-ingested AFTER it — the race " +
        "the ack marker exists to prevent")
  }

  // ---- AnchorIndex migration verb (VERDICT r17 #6) --------------------------

  test("AnchorIndex closes the pre-r17 migration window: an old-layout " +
    "index (no occupancy baseline) anchored once reads the SAME " +
    "fold-surviving drift TVD as a fresh-built index") {
    import graft.streaming.StreamingOps
    val idxA = java.nio.file.Files.createTempDirectory("graft_r18_anchA").toString
    val idxB = java.nio.file.Files.createTempDirectory("graft_r18_anchB").toString
    SimilarityOps.writeIndex(spark, sf, idxA)
    SimilarityOps.writeIndex(spark, sf, idxB)
    // Simulate the pre-r17 layout: the baseline does not exist until the
    // index's next geometry verb — exactly the window the verb closes.
    val fs = new org.apache.hadoop.fs.Path(idxB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxB/.occupancy_baseline"), false)
    assert(SimilarityOps.readOccupancyBaseline(spark, idxB).isEmpty)
    // The AnchorIndex verb's core: snapshot CURRENT occupancy, K rows.
    SimilarityOps.writeOccupancyBaseline(spark, idxB)
    // Identical skewed drift into both, then a layout fold — the fold
    // must move NEITHER side of either index's TVD.
    val (sizes, _) = SimilarityOps.indexClusterSizes(spark, idxA)
    val hot = sizes.maxBy(s => (s._2, -s._1))._1
    val hotIds = SimilarityOps.vectorsDf(spark, idxA)
      .filter(col("cluster") === hot).select("vec_id")
      .orderBy("vec_id").limit(40).collect().map(_.getLong(0)).toSeq
    val driftSrc = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id").isin(hotIds: _*))
    val drift = driftSrc
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      .unionByName(driftSrc
        .select((col("vec_id") + 5500000L).as("vec_id"), col("embedding")))
      .localCheckpoint(true)
    StreamingOps.ingestBatch(drift, 0L, idxA)
    StreamingOps.ingestBatch(drift, 0L, idxB)
    SimilarityOps.compactHotClusters(spark, idxA, threshold = 0)
    SimilarityOps.compactHotClusters(spark, idxB, threshold = 0)
    val ta = SimilarityOps.indexOccupancyTvd(spark, idxA)
    val tb = SimilarityOps.indexOccupancyTvd(spark, idxB)
    assert(ta > 0.0, s"drift fixture too weak: tvd=$ta")
    assert(ta == tb,
      s"anchored old-layout index reads a different drift signal: $ta vs $tb")
  }

  // ---- absolute-wall pin registry (VERDICT r17 #2/#3) -----------------------

  test("pins.json carries walls + bench_walls; bench_walls names are " +
    "exactly the serve keys Bench emits; the wall verdict FLIPS on a " +
    "doctored envelope or an unmeasured registered wall") {
    val (calSf, ratios, benchWalls) = Bench.loadPinsEnvelopes("tools/pins.json")
      .getOrElse(fail("tools/pins.json must parse"))
    assert(calSf == "sf0.1", s"calibration SF drifted: $calSf")
    // loadPinsEnvelopes returns the BENCH-context ratio envelopes
    // (bench_ratios — 10 names; floor_hybrid is ServeProbe-context only,
    // checked below against the `ratios` section).
    assert(ratios.size == 10, s"ratio registry drifted: ${ratios.keys.toSeq.sorted}")
    // The bench-context wall names MUST be keys Bench.main writes into its
    // serve table before the pins_ok verdict is computed — a typo here
    // would read as permanent FAIL (good) but a renamed Bench key would
    // too, so the names are pinned literally on both sides.
    assert(benchWalls.keySet == Set("int8_p50_ms", "float_p50_ms",
      "pq_p50_ms", "batch20_ms", "pq_batch20_ms"),
      s"bench_walls names drifted: ${benchWalls.keys.toSeq.sorted}")
    benchWalls.foreach { case (k, (lo, hi)) =>
      assert(lo > 0 && hi > lo, s"degenerate envelope for $k: [$lo, $hi]")
    }
    val mid = benchWalls.map { case (k, (lo, hi)) => k -> (lo + hi) / 2 }
    assert(Bench.pinsVerdict(mid, benchWalls), "mid-envelope walls must pass")
    val doctored = benchWalls.updated("pq_batch20_ms", (0.0001, 0.0002))
    assert(!Bench.pinsVerdict(mid, doctored),
      "a doctored wall envelope must flip the verdict")
    assert(!Bench.pinsVerdict(mid - "int8_p50_ms", benchWalls),
      "an unmeasured registered wall must read FAIL, not healthy")

    // The ServeProbe-context `walls` section: same raw_ms names ServeProbe
    // --pins prints (ratios cancel a proportional rise; these don't).
    import org.json4s._
    val root = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("tools/pins.json")), "UTF-8"))
    val wallNames = root \ "walls" match {
      case JObject(fields) => fields.map(_._1).toSet
      case _ => fail("pins.json lost its walls section")
    }
    // The ServeProbe-context ratio registry carries the six-arm census's
    // floor_hybrid pin (r18) next to the ten r17 names.
    val probeRatioNames = root \ "ratios" match {
      case JObject(fields) => fields.map(_._1).toSet
      case _ => fail("pins.json lost its ratios section")
    }
    assert(probeRatioNames.size == 11 && probeRatioNames("floor_hybrid"),
      s"ServeProbe ratio registry drifted: ${probeRatioNames.toSeq.sorted}")
    val tiers = Seq("float", "int8", "binary", "pq", "pq_rerank")
    val expected = tiers.map(t => s"${t}_batch20_ms").toSet ++
      tiers.map(t => s"${t}_1row_batch_ms").toSet +
      "hybrid_batch5_ms" + "hybrid_1row_batch_ms"
    assert(wallNames == expected, s"walls names drifted: ${wallNames.toSeq.sorted}")
  }
}
