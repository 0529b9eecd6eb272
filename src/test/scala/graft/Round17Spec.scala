package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.SimilarityOps
import graft.operators.SimilarityOps.PayloadFilter

/** Round-17 pins — filtered ANN serving (VERDICT r16 #1): the q208
  * census IS the dispatcher's behavior, each forced arm matches its
  * analytic derivation, and the pre arm's predicate actually reaches
  * the parquet scan.
  */
class Round17Spec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  private lazy val idx: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_idx").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    dir
  }

  /** The q208 panel as a request frame: each panel vector queries for
    * "top-k among label <= my own label". */
  private def panelQueries = spark.read.parquet(s"$sf/embeddings.parquet")
    .filter(col("vec_id") < SimilarityOps.NPanel)
    .select(col("vec_id").as("query_id"), col("embedding"),
      col("label").cast("long").as("flabel"))

  /** The label filter through the one filtered entry point, float tier:
    * "top-k among vectors WHERE label `op` flabel". */
  private def labelServe(
      dir: String, queries: org.apache.spark.sql.DataFrame, op: String = "le",
      strategy: String = "auto") =
    SimilarityOps.tierServeManyFilteredBy(spark, dir, queries,
      Seq(PayloadFilter("label", op, "flabel")), strategy = strategy)

  test("filtered serve (auto) ≡ the q208 census per panel query: same " +
    "strategy, same (rank, vec_id) answers — the census is the dispatch") {
    val census = SimilarityOps.filteredServePlan(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"),
          r.getAs[Double]("cos"))).toMap
    val served = labelServe(idx, panelQueries).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[String]("strategy"),
          r.getAs[Double]("score"))).toMap
    assert(served.nonEmpty && served == census,
      s"filtered serve diverged from q208: ${served.size} vs ${census.size} rows")
  }

  test("forced pre ≡ exact filtered truth for EVERY panel query (the " +
    "pre arm is exact at any selectivity); forced post on the census's " +
    "post slice ≡ the census rows themselves") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    // Exact truth: per query, cosine top-k among label <= flabel.
    val truth = e.select(col("vec_id"), col("label").cast("long").as("vl"),
        col("embedding"))
      .join(broadcast(panelQueries.select(col("query_id"),
        col("embedding").as("qe"), col("flabel"))),
        col("vl") <= col("flabel"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.CosineSimilarity.cosineSim(
          col("embedding"), col("qe")).as("cos"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rank") <= SimilarityOps.TopK)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank").toLong) ->
        r.getAs[Long]("vec_id")).toMap
    val pre = labelServe(idx, panelQueries, strategy = "pre")
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("vec_id")).toMap
    assert(pre == truth, "forced pre diverged from the exact filtered truth")
    val censusPost = SimilarityOps.filteredServePlan(spark, sf).collect()
      .filter(_.getAs[String]("strategy") == "post")
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("vec_id")).toMap
    val postIds = censusPost.keys.map(_._1).toSet
    val post = labelServe(idx,
        panelQueries.filter(col("query_id").isin(postIds.toSeq: _*)),
        strategy = "post")
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("vec_id")).toMap
    assert(postIds.nonEmpty && post == censusPost,
      "forced post diverged from the census's post arm")
  }

  test("pre arm pushes the label predicate into the parquet scan " +
    "(PushedFilters on the payload column) — the 100 TB reason the " +
    "payload lives ON the vector rows") {
    val plan = labelServe(idx, panelQueries, strategy = "pre")
      .queryExecution.executedPlan.toString
    assert(plan.contains("IsNotNull(label)") &&
      plan.contains("LessThanOrEqual(label"),
      s"label predicate not pushed to the scan:\n$plan")
  }

  test("op = eq answers only the query's own label and routes pre " +
    "(sel ≈ 0.1 ≤ 1/overfetch); every returned id carries the label") {
    val served = labelServe(idx, panelQueries, op = "eq")
    val rows = served.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("strategy") == "pre"))
    val labelOf = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label").toLong).toMap
    val flabelOf = panelQueries.select("query_id", "flabel").collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("flabel")).toMap
    rows.foreach { r =>
      assert(labelOf(r.getAs[Long]("vec_id")) ==
        flabelOf(r.getAs[Long]("query_id")),
        s"eq answer crossed labels: $r")
    }
  }

  test("filtered serve REFUSES an unlabeled index (payload-less rows " +
    "can never match a predicate — failing loud beats empty answers)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_nolabel").toString
    val unlabeled = java.nio.file.Files
      .createTempDirectory("graft_r17_nolabel_src").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$unlabeled/embeddings.parquet")
    SimilarityOps.writeIndex(spark, unlabeled, dir)
    val err = intercept[IllegalArgumentException] {
      labelServe(dir, panelQueries)
    }
    assert(err.getMessage.contains("label payload"))
  }

  // ---- deleteVectors + upsert semantics (VERDICT r16 #2) -------------------

  private def queryOf(idx0: String, vid: Long, qid: Long = 0L) = {
    import spark.implicits._
    val e = SimilarityOps.vectorsDf(spark, idx0)
      .filter(col("vec_id") === vid)
      .select("embedding").collect()(0).getAs[scala.collection.Seq[Float]](0)
    Seq((qid, e.toArray)).toDF("query_id", "embedding")
  }

  private def servedIdsAllTiers(idx0: String, qdf: org.apache.spark.sql.DataFrame)
      : Map[String, Set[Long]] = Map(
    "float" -> SimilarityOps.annIvfServeMany(spark, idx0, qdf),
    "binary" -> SimilarityOps.annBinaryServeMany(spark, idx0, qdf),
    "int8" -> SimilarityOps.annInt8ServeMany(spark, idx0, qdf),
    "pq" -> SimilarityOps.annPqServeMany(spark, idx0, qdf),
    "pq_rerank" -> SimilarityOps.annPqRerankServeMany(spark, idx0, qdf))
    .map { case (t, df) =>
      t -> df.collect().map(_.getAs[Long]("vec_id")).toSet
    }

  test("deleteVectors is a bounded partition-local rewrite: rows gone " +
    "from the table AND from all five serving tiers, size artifacts " +
    "decremented under the lock, idempotent re-run removes 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_del").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    val victims = Seq(3L, 7L, 11L)
    val qdfs = victims.map(v => v -> queryOf(dir, v)).toMap
    victims.foreach { v =>
      assert(servedIdsAllTiers(dir, qdfs(v)).forall(_._2.contains(v)),
        s"victim $v should rank pre-delete")
    }
    val (szBefore, ntotBefore) = SimilarityOps.indexClusterSizes(spark, dir)
    val lszBefore = SimilarityOps.indexLabelSizes(spark, dir).values.sum
    val removed = SimilarityOps.deleteVectors(spark, dir, victims)
    assert(removed == victims.size.toLong, s"removed $removed")
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id").isin(victims: _*)).count() == 0L)
    victims.foreach { v =>
      servedIdsAllTiers(dir, qdfs(v)).foreach { case (t, ids) =>
        assert(!ids.contains(v), s"tier $t still serves deleted id $v")
      }
    }
    val (_, ntotAfter) = SimilarityOps.indexClusterSizes(spark, dir)
    assert(ntotAfter == ntotBefore - victims.size,
      s"cluster_sizes $ntotBefore -> $ntotAfter")
    assert(SimilarityOps.indexLabelSizes(spark, dir).values.sum ==
      lszBefore - victims.size, "label_sizes not decremented")
    assert(SimilarityOps.deleteVectors(spark, dir, victims) == 0L,
      "re-run must be a no-op")
    assert(szBefore.values.sum == ntotBefore)
  }

  test("re-ingesting an existing vec_id is REPLACE, not duplicate: the " +
    "new content serves from the very batch that replaced it, a replay " +
    "is idempotent, and the whole-table fold applies it physically and " +
    "clears the ledger") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_ups").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    // vec 3 re-ingested with vec 123's embedding — a REAL content change.
    val newEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 123L).select("embedding")
    val delta = newEmb.select(lit(3L).as("vec_id"), col("embedding"))
    StreamingOps.ingestBatch(delta, 5L, dir)
    // Physically two copies; served exactly one — the new one.
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id") === 3L).count() == 2L)
    assert(SimilarityOps.servedVectorsDf(spark, dir)
      .filter(col("vec_id") === 3L).count() == 1L)
    val qNew = queryOf(dir, 123L)
    val top = SimilarityOps.annIvfServeMany(spark, dir, qNew).collect()
    val byId = top.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("rank")).toMap
    assert(byId.contains(3L) && byId(3L) <= 2L,
      s"upserted content not served: $byId")
    // The OLD content must no longer put vec 3 at cos ≈ 1.
    val qOld = {
      import spark.implicits._
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") === 3L)
        .select("embedding").collect()(0).getAs[scala.collection.Seq[Float]](0)
      Seq((0L, e.toArray)).toDF("query_id", "embedding")
    }
    val oldTop = SimilarityOps.annIvfServeMany(spark, dir, qOld).collect()
      .filter(_.getAs[Long]("rank") === 1L).head
    assert(oldTop.getAs[Long]("vec_id") != 3L ||
      oldTop.getAs[Double]("cos") < 0.999,
      "stale copy still serving its old content")
    // Replay of the same batch: same physical state, same ledger.
    StreamingOps.ingestBatch(delta, 5L, dir)
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id") === 3L).count() == 2L, "replay duplicated")
    // Whole-table fold: physical dedup newest-wins, ledger cleared,
    // answers unchanged across the fold.
    val preFold = SimilarityOps.annIvfServeMany(spark, dir, qNew).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq
    SimilarityOps.compactVectors(spark, dir)
    val dups = SimilarityOps.vectorsDf(spark, dir)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dups == 0L, s"$dups duplicate vec_ids after the fold")
    assert(SimilarityOps.indexUpserts(spark, dir).isEmpty, "ledger not cleared")
    val postFold = SimilarityOps.annIvfServeMany(spark, dir, qNew).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq
    assert(postFold == preFold, "answers moved across the fold")
  }

  test("every fold FINISHES pending upserts physically first — hot " +
    "compaction removes the stale twin WHEREVER it lives (even outside " +
    "the folded clusters), clears the ledger, and answers are " +
    "fold-invariant") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_hot").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    // Upsert vec 3 with FAR content (vec 123's embedding) — the new copy
    // can land in a different cluster than the stale one.
    val newEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 123L).select("embedding")
    StreamingOps.ingestBatch(
      newEmb.select(lit(3L).as("vec_id"), col("embedding")), 9L, dir)
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id") === 3L).count() == 2L)
    val qNew = queryOf(dir, 123L)
    val before = SimilarityOps.annIvfServeMany(spark, dir, qNew).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq
    SimilarityOps.compactHotClusters(spark, dir, threshold = 0)
    // The stale copy is physically gone — exactly one row, the new one.
    val copies = SimilarityOps.vectorsDf(spark, dir)
      .filter(col("vec_id") === 3L).select("embedding").collect()
    assert(copies.length == 1, s"${copies.length} physical copies after fold")
    val newArr = newEmb.collect()(0).getAs[scala.collection.Seq[Float]](0)
    assert(copies(0).getAs[scala.collection.Seq[Float]](0) == newArr,
      "fold kept the STALE content")
    assert(SimilarityOps.indexUpserts(spark, dir).isEmpty,
      "fold must clear the applied ledger")
    val after = SimilarityOps.annIvfServeMany(spark, dir, qNew).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"))).toSeq
    assert(after == before, "answers moved across the fold")
    val dups = SimilarityOps.vectorsDf(spark, dir)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dups == 0L, s"$dups duplicate vec_ids after the fold")
  }

  // ---- q209: composed tier × depth census (VERDICT r16 #3) -----------------

  test("q209 composes q203 × q207 per panel query: tier_final ≡ q203's " +
    "tier_final and np_depth ≡ q207's np_depth, one row per query, the " +
    "fixture exercising >1 depth") {
    val plan = SimilarityOps.tierDepthPlan(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[String]("tier_final"), r.getAs[Long]("np_depth")))
    val planMap = plan.toMap
    assert(planMap.size == plan.length, "duplicate qid rows in q209")
    val tiers = SimilarityOps.tierRouteSlice(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[String]("tier_final")).toMap
    val depths = SimilarityOps.probeDepthPlan(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("np_depth")).toMap
    assert(planMap.keySet == tiers.keySet && planMap.keySet == depths.keySet,
      s"q209 covers ${planMap.size} queries, q203 ${tiers.size}, q207 ${depths.size}")
    assert(planMap.map { case (q, (t, _)) => q -> t } == tiers,
      "q209 tier_final diverged from q203")
    assert(planMap.map { case (q, (_, d)) => q -> d } == depths,
      "q209 np_depth diverged from q207")
    assert(planMap.values.map(_._2).toSet.subsetOf(Set(
      SimilarityOps.DepthLo.toLong, SimilarityOps.NProbeServe.toLong,
      SimilarityOps.DepthHi.toLong)))
    assert(planMap.values.map(_._2).toSet.size >= 2,
      s"fixture should exercise >1 depth: $planMap")
  }

  // ---- horizon-free live TVD (VERDICT r16 #4) -------------------------------

  test("drift that a compaction fold erases from the base-vs-ingested " +
    "split STAYS visible to the baseline-anchored TVD: drift → fold → " +
    "more drift still fires the retrain trigger, which then re-anchors " +
    "to zero") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_tvd").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    assert(SimilarityOps.indexOccupancyTvd(spark, dir) == 0.0,
      "fresh build must read zero drift")
    // Skewed ingest: clones of ONE cluster's members pile into it.
    val (sizes0, _) = SimilarityOps.indexClusterSizes(spark, dir)
    val fatC = sizes0.maxBy(_._2)._1
    def skewBatch(b: Long, n: Int): Unit = {
      val members = SimilarityOps.vectorsDf(spark, dir)
        .filter(col("cluster") === fatC).select("vec_id")
        .limit(n).collect().map(_.getLong(0))
      val batch = spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id").isin(members.toSeq: _*))
        .select((col("vec_id") + 5000000L + b * 1000L).as("vec_id"),
          col("embedding"))
      StreamingOps.ingestBatch(batch, b, dir)
    }
    skewBatch(1L, 40)
    val tvd1 = SimilarityOps.indexOccupancyTvd(spark, dir)
    assert(tvd1 > 0.02, s"skewed ingest should register: $tvd1")
    // The fold erases the base-vs-ingested split — the r16 signal would
    // read 0.0 here. The anchored signal must NOT move.
    SimilarityOps.compactVectors(spark, dir)
    val tvdAfterFold = SimilarityOps.indexOccupancyTvd(spark, dir)
    assert(math.abs(tvdAfterFold - tvd1) < 1e-9,
      s"fold moved the anchored signal: $tvd1 -> $tvdAfterFold")
    skewBatch(2L, 40)
    val tvd2 = SimilarityOps.indexOccupancyTvd(spark, dir)
    assert(tvd2 > tvd1, s"more drift must accumulate: $tvd1 -> $tvd2")
    // Trigger fires on the accumulated, fold-surviving drift...
    assert(StreamingOps.maybeRetrain(spark, dir, tvdAt = tvd1, deadAt = 0.0),
      "trigger must fire past the threshold")
    // ...and the retrain re-anchored the signal to its self-disarmed zero.
    assert(SimilarityOps.indexOccupancyTvd(spark, dir) == 0.0,
      "retrain must re-anchor the drift signal")
  }

  // ---- q210: persisted-index hybrid serving (VERDICT r16 #5) ---------------

  test("hybrid serve answers from the PERSISTED bucketed token + gram " +
    "indexes ≡ the q210 census per query, and the Bm25Query row ≡ the " +
    "analytic q29 fusion — the reference's hybrid arm finally has its " +
    "persisted serving twin") {
    import spark.implicits._
    import graft.operators.RetrievalOps
    import graft.stats.IndexStore
    val prefix = "r17hyb"
    IndexStore.save(spark, RetrievalOps.tokenIndex(spark, sf), s"${prefix}_tok")
    IndexStore.saveGram(spark, RetrievalOps.gramIndex(spark, sf), s"${prefix}_gram")
    val census = RetrievalOps.hybridServePlan(spark, sf).collect()
      .map(r => (r.getAs[String]("qid"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toMap
    val served = RetrievalOps.hybridServeMany(spark,
        s"${prefix}_tok", s"${prefix}_gram",
        RetrievalOps.FixedQueries.toDF("query_id", "query")).collect()
      .map(r => (r.getAs[String]("qid"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toMap
    assert(served.nonEmpty && served == census,
      s"persisted-index hybrid serve diverged from q210 (${served.size} vs " +
        s"${census.size} rows)")
    val one = Seq(("q", RetrievalOps.Bm25Query)).toDF("query_id", "query")
    val servedOne = RetrievalOps.hybridServeMany(spark,
        s"${prefix}_tok", s"${prefix}_gram", one).collect()
      .map(r => r.getAs[Long]("rank") ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toMap
    val q29 = RetrievalOps.rrfFusion(spark, sf).collect()
      .map(r => r.getAs[Long]("rank") ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toMap
    assert(servedOne == q29, "served fusion diverged from the analytic q29")
  }

  // ---- in-artifact pin verdict (VERDICT r16 #6) -----------------------------

  test("Bench's pins_ok verdict reads the real registry, passes " +
    "mid-envelope ratios, and FLIPS on a doctored envelope or an " +
    "unmeasured registered pin") {
    val (calSf, env) = Bench.loadPinsEnvelope("tools/pins.json")
      .getOrElse(fail("tools/pins.json must parse"))
    assert(calSf == "sf0.1", s"calibration SF drifted: $calSf")
    assert(env.contains("penalty_hybrid") && env.size == 10,
      s"registry drifted: ${env.keys.toSeq.sorted}")
    val mid = env.map { case (k, (lo, hi)) => k -> (lo + hi) / 2 }
    assert(Bench.pinsVerdict(mid, env), "mid-envelope ratios must pass")
    val doctored = env.updated("penalty_pq", (0.0001, 0.0002))
    assert(!Bench.pinsVerdict(mid, doctored),
      "a doctored envelope must flip the verdict")
    assert(!Bench.pinsVerdict(mid - "penalty_pq", env),
      "an unmeasured registered pin must read as a FAIL, not healthy")
    assert(Bench.pinsVerdict(mid + ("brand_new_ratio" -> 99.0), env),
      "a measurement without a registered pin is ignored")
    assert(Bench.loadPinsEnvelope("tools/definitely_missing.json").isEmpty)
  }

  // ---- graduated-K retrain (VERDICT r16 stretch #7) -------------------------

  test("retrainIndex(k) trains the full artifact chain at the given K: " +
    "centroids/sizes carry K cells, rows conserve, and every committed " +
    "artifact equals the append path's derivation against the K-variant " +
    "persisted model (the fresh-build identity at any K)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_gradk").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    val (kb, ka) = SimilarityOps.retrainIndex(spark, dir, k = 12)
    assert((kb, ka) == (10, 12), s"($kb, $ka)")
    assert(SimilarityOps.artifactDf(spark, dir, "centroids")
      .select("cluster").distinct().count() == 12L)
    val (sizes, ntot) = SimilarityOps.indexClusterSizes(spark, dir)
    assert(sizes.size == 12 && ntot == 500L, s"${sizes.size} cells / $ntot rows")
    val after = SimilarityOps.vectorsDf(spark, dir).localCheckpoint(true)
    val derived = SimilarityOps.appendArtifacts(spark, dir,
      after.select("vec_id", "embedding"))
    val mismatch = after
      .select(col("vec_id"), col("cluster").cast("long").as("have"),
        col("pq_codes").as("have_pq"))
      .join(derived.select(col("vec_id"), col("cluster").cast("long").as("want"),
        col("pq_codes").as("want_pq")), "vec_id")
      .filter(col("have") =!= col("want") || col("have_pq") =!= col("want_pq"))
      .count()
    assert(mismatch == 0, "K-variant retrain != its own fresh derivation")
    after.unpersist(true)
    // Serving runs unmodified on the K-variant geometry.
    assert(SimilarityOps.annIvfServeMany(spark, dir,
      panelQueries.select("query_id", "embedding")).count() > 0)
  }

  test("label payload survives the maintenance lifecycle: ingest " +
    "(null-label delta), hot compaction, split, and retrain all keep " +
    "labeled rows labeled — and label_sizes tracks the live table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_life").toString
    SimilarityOps.writeIndex(spark, sf, dir)
    val before = SimilarityOps.vectorsDf(spark, dir)
      .filter(col("label").isNotNull).count()
    assert(before == 500L, s"fresh labeled rows: $before")
    // Streamed delta: payload-less rows land NULL.
    val extra = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 40)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    graft.streaming.StreamingOps.ingestBatch(extra, 3L, dir)
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("label").isNotNull).count() == before)
    SimilarityOps.compactHotClusters(spark, dir, threshold = 0)
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("label").isNotNull).count() == before,
      "hot compaction dropped labels")
    SimilarityOps.splitHotCells(spark, dir, ratio = 1.01, maxCells = 1)
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("label").isNotNull).count() == before,
      "split dropped labels")
    SimilarityOps.retrainIndex(spark, dir)
    assert(SimilarityOps.vectorsDf(spark, dir)
      .filter(col("label").isNotNull).count() == before,
      "retrain dropped labels")
    // The estimator artifact follows the live table through the verbs.
    val lsz = SimilarityOps.indexLabelSizes(spark, dir)
    assert(lsz.values.sum == before, s"label_sizes drifted: $lsz")
  }
}
