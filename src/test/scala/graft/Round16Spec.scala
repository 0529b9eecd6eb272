package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** Round-16 pins — closing the routing-census lattice and the r15
  * advice items: q206 (the learned-state slice collapse census) IS the
  * frame the streaming auto dispatch routes by, and q205's advise_split
  * agrees with q204's selection predicate bit-for-bit (the unrounded
  * compare, ADVICE r15 #3).
  */
class Round16Spec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  // ---- q206 ≡ the production auto dispatch (VERDICT r15 #1) ----------------

  test("q206 tier_final ≡ tierSliceChoices(fold) — the exact frame " +
    "Round14Spec ties streaming annServe(tier=auto) to, so the shipped " +
    "dispatch is oracle-gated end-to-end through q206") {
    val fold = SimilarityOps.tierFoldE4(spark, sf)
    val viaChoices = SimilarityOps.tierSliceChoices(spark, sf, fold)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[String]("tier")).toMap
    val viaCensus = SimilarityOps.tierRouteSlicePass2(spark, sf)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[String]("tier_final")).toMap
    assert(viaCensus.nonEmpty && viaCensus == viaChoices,
      s"q206 census diverged from the dispatch frame: $viaCensus vs $viaChoices")
  }

  test("q206 composes q201's learned-weight choices with the collapse: " +
    "every query whose pass-1 arm the collapse KEEPS still routes to " +
    "q201's tier_w1b; collapsed members land on a kept arm") {
    val census = SimilarityOps.tierRouteSlicePass2(spark, sf).collect()
    val keptArms = census.filter(_.getAs[Long]("kept") == 1L)
      .map(_.getAs[String]("tier_batch")).toSet
    val q201 = SimilarityOps.tierRoutePass2Batch(spark, sf)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[String]("tier_w1b")).toMap
    census.foreach { r =>
      val (qid, batch, fin) = (r.getAs[Long]("qid"),
        r.getAs[String]("tier_batch"), r.getAs[String]("tier_final"))
      assert(batch == q201(qid),
        s"q206 pass-1 arm for $qid ($batch) != q201's ${q201(qid)}")
      assert(keptArms(fin), s"query $qid landed on a collapsed arm $fin")
      if (keptArms(batch))
        assert(fin == batch, s"kept-arm member $qid moved: $batch -> $fin")
    }
  }

  // ---- q205 advise_split ≡ q204 selection predicate (ADVICE r15 #3) -------

  test("q205 advise_split is the UNROUNDED q204 predicate: advise_split " +
    "= 1 iff q204 plans >= 1 split, including at a rounding boundary") {
    val plan = SimilarityOps.maintenancePlan(spark, sf).collect()(0)
    val q204Splits = SimilarityOps.splitPlan(spark, sf)
      .filter(col("would_split") === 1L).count()
    assert((plan.getAs[Long]("advise_split") == 1L) == (q204Splits >= 1L),
      s"advise_split ${plan.getAs[Long]("advise_split")} vs q204 " +
        s"planning $q204Splits splits")
    // The boundary case the rounded compare got wrong (ADVICE r15): an
    // unrounded max/mean in (ratio, ratio + 5e-7) rounds DOWN to the
    // ratio, but both engines must still advise the split. Pin the rule
    // itself on synthetic counts. Cold case: max well under 2·mean.
    // Boundary case: cells (a, a, a, 3a+2) put max exactly 2·mean + 1,
    // a ratio excess of 1/mean — with a = 2,000,000 that is ~3.3e-7,
    // inside r6's dead zone, so the display column rounds to 2.0 while
    // the unrounded predicate (and q204) still fire.
    def adviseOf(sizes: Seq[Long]): Boolean = {
      val mean = sizes.sum.toDouble / sizes.size
      sizes.max.toDouble > SimilarityOps.SplitRatio * mean
    }
    assert(!adviseOf(Seq.fill(7)(99999L) :+ 200001L))
    val a = 2000000L
    val boundary = Seq(a, a, a, 3 * a + 2)
    assert(adviseOf(boundary))
    // And the r6'd display value would have hidden it in the old compare:
    val mean = boundary.sum.toDouble / boundary.size
    val unrounded = boundary.max.toDouble / mean
    assert(unrounded > 2.0 && unrounded < 2.0000005,
      s"boundary fixture drifted: $unrounded")
    assert(math.floor(unrounded * 1e6 + 0.5) / 1e6 == 2.0,
      "fixture must sit inside r6's dead zone")
  }

  // ---- manifest v2: single-commit retrain cutover (VERDICT r15 #2) --------

  private lazy val embOf: Map[Long, Array[Float]] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < SimilarityOps.NPanel).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap

  private def copyDir(src: String, dst: String): Unit =
    graft.tools.ProbeUtil.copyDir(src, dst)

  private def geometry(idx: String): (Set[Long], Set[Long], Map[Long, Long]) = {
    val vClusters = SimilarityOps.vectorsDf(spark, idx)
      .select(col("cluster").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val cClusters = SimilarityOps.artifactDf(spark, idx, "centroids")
      .select(col("cluster").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val asg = SimilarityOps.vectorsDf(spark, idx)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (vClusters, cClusters, asg)
  }

  test("retrain cutover is SINGLE-COMMIT: a kill before the manifest " +
    "write leaves a reader on the complete OLD geometry (manifest " +
    "unchanged, strays unreferenced); a kill after it leaves the " +
    "complete NEW one; re-running from any kill finishes bit-identically " +
    "to an uninterrupted retrain — never a mixed geometry") {
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_r16_cutbase").toString
    SimilarityOps.writeIndex(spark, sf, base)
    val extra = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 30)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    StreamingOps.ingestBatch(extra, 11L, base)
    assert(SimilarityOps.splitHotCells(spark, base, ratio = 1.01,
      maxCells = 1).nonEmpty, "setup split did not run")
    val layoutBefore = SimilarityOps.indexLayout(spark, base)
    val geoBefore = geometry(base)
    assert(geoBefore._1 == geoBefore._2, "fixture geometry inconsistent")

    // The uninterrupted retrain's end state, for the determinism pin.
    val ref = java.nio.file.Files.createTempDirectory("graft_r16_cutref").toString
    copyDir(base, ref)
    SimilarityOps.retrainIndex(spark, ref)
    val geoRef = geometry(ref)
    assert(geoRef._1 == geoRef._2 &&
      geoRef._2.size == SimilarityOps.KmeansK)

    // Kill points: 0 = before any staging rename, 4 = all four renames
    // done but manifest unwritten (the exact window ADVICE r15 #1 and
    // the r15 verdict's mixed-geometry finding lived in), 5 = manifest
    // committed, GC not yet run.
    Seq(0, 4).foreach { k =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_r16_cut$k").toString
      copyDir(base, d)
      val e = intercept[IllegalStateException] {
        SimilarityOps.retrainIndex(spark, d, crashAfter = k)
      }
      assert(e.getMessage.contains("injected crash"), s"kill $k: $e")
      assert(SimilarityOps.indexLayout(spark, d) == layoutBefore,
        s"kill $k: manifest moved before the commit point")
      val geo = geometry(d)
      assert(geo == geoBefore, s"kill $k: reader view is not the old geometry")
      // Finish the interrupted cutover by re-running — the deterministic
      // trainer must land exactly where the uninterrupted run did, and
      // the disk-max generation rule must not collide with the strays.
      SimilarityOps.retrainIndex(spark, d)
      assert(geometry(d) == geoRef, s"kill $k: healed retrain != reference")
    }

    val d5 = java.nio.file.Files.createTempDirectory("graft_r16_cut5").toString
    copyDir(base, d5)
    val e5 = intercept[IllegalStateException] {
      SimilarityOps.retrainIndex(spark, d5, crashAfter = 5)
    }
    assert(e5.getMessage.contains("injected crash"))
    val l5 = SimilarityOps.indexLayout(spark, d5)
    assert(l5.artifacts.keySet ==
      Set("centroids", "pq_centroids", "bq_mu"),
      "post-commit manifest must name all three model generations")
    assert(l5 != layoutBefore)
    assert(geometry(d5) == geoRef,
      "kill after the manifest commit: reader view is not the new geometry")
    // Re-run from the committed state: idempotent, still the reference.
    SimilarityOps.retrainIndex(spark, d5)
    assert(geometry(d5) == geoRef)
  }

  // ---- sampled-train build (VERDICT r15 #4) ---------------------------------

  test("writeIndex(trainFraction): the md5 hash-sample is deterministic " +
    "— two sampled builds are identical in every artifact — rows are " +
    "conserved (the encode pass is full-corpus), and K is the trained " +
    "baseline") {
    val out1 = java.nio.file.Files.createTempDirectory("graft_r16_tf1").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft_r16_tf2").toString
    SimilarityOps.writeIndex(spark, sf, out1, trainFraction = 0.5)
    graft.operators.Memos.release(s"$out2/.train_sample")
    SimilarityOps.writeIndex(spark, sf, out2, trainFraction = 0.5)
    def cent(idx: String) = SimilarityOps.artifactDf(spark, idx, "centroids")
      .collect().map(r => (r.getAs[Number]("cluster").longValue(),
        r.getAs[Number]("pos").longValue(), r.getAs[Double]("c"))).toSet
    assert(cent(out1) == cent(out2), "sampled training is not deterministic")
    assert(cent(out1).map(_._1).size == SimilarityOps.KmeansK)
    def rows(idx: String) = SimilarityOps.vectorsDf(spark, idx)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("pq_codes"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Long]]("pq_codes").toSeq)).toSet
    val r1 = rows(out1)
    assert(r1 == rows(out2), "sampled encode is not deterministic")
    // Full-corpus encode: every corpus vector is present exactly once.
    val corpusIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(r1.map(_._1) == corpusIds, "encode pass must cover the full corpus")
    assert(r1.size == corpusIds.size)
    // And the sample really was a strict subset (the fraction did work).
    val nSampled = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(SimilarityOps.hashSampleE4(col("vec_id"), 5000)).count()
    assert(nSampled > 0 && nSampled < corpusIds.size,
      s"hash sample degenerate: $nSampled of ${corpusIds.size}")
  }

  // ---- ingest ack marker closes the compaction replay hole (ADVICE r15 #2) -

  test("auto-split replay guard survives signature erasure: compaction " +
    "folding an unacknowledged batch's partitions no longer lets a " +
    "replay split mid-stream — the ack marker vetoes it") {
    import graft.streaming.StreamingOps
    val idx = java.nio.file.Files.createTempDirectory("graft_r16_marker").toString
    SimilarityOps.writeIndex(spark, sf, idx)
    val extra = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))
    StreamingOps.ingestBatch(extra, 7L, idx)
    // Crashed-attempt signature present: the partition guard alone vetoes.
    assert(StreamingOps.batchPartitionsExist(spark, idx, 7L))
    assert(!StreamingOps.maybeSplitForBatch(spark, idx, 1.0e-9, 7L))
    // The sink acks, then compaction folds the batch into the base —
    // ERASING the partition signature (the ADVICE r15 scenario).
    StreamingOps.writeIngestMarker(spark, idx, 7L)
    SimilarityOps.compactVectors(spark, idx)
    assert(!StreamingOps.batchPartitionsExist(spark, idx, 7L),
      "fixture: compaction was supposed to erase the signature")
    // A crash-after-fold replay of batch 7 must STILL not split.
    assert(!StreamingOps.maybeSplitForBatch(spark, idx, 1.0e-9, 7L),
      "replayed batch split despite the ack marker")
    assert(StreamingOps.readIngestMarker(spark, idx).contains(7L))
    // Fresh checkpoint re-arm: the marker is overwritten, not maxed.
    StreamingOps.writeIngestMarker(spark, idx, 0L)
    assert(StreamingOps.readIngestMarker(spark, idx).contains(0L))
  }

  // ---- index-side retrain trigger (VERDICT r15 #3) --------------------------

  test("auto-retrain trigger: drifted ingest accumulates live-index TVD " +
    "from the size artifact (metadata only) until the armed threshold " +
    "fires ONE retrain mid-stream — K resets, the signal self-disarms, " +
    "rows conserve, every artifact equals its fresh-build derivation, " +
    "and the replay guards veto a re-fire") {
    import graft.streaming.StreamingOps
    val idx = java.nio.file.Files.createTempDirectory("graft_r16_autort").toString
    SimilarityOps.writeIndex(spark, sf, idx)
    // A split so K != baseline: only a retrain can reset it — the
    // observable that the trigger, not anything else, did the work.
    assert(SimilarityOps.splitHotCells(spark, idx, ratio = 1.01,
      maxCells = 1).nonEmpty)
    val kDrifted = SimilarityOps.artifactDf(spark, idx, "centroids")
      .select("cluster").distinct().count()
    assert(kDrifted == SimilarityOps.KmeansK + 1)
    assert(SimilarityOps.indexOccupancyTvd(spark, idx) == 0.0,
      "fresh index must read zero drift")

    // Drift batch: offset-id copies of ONE cell's rows, TWICE over — the
    // r17 horizon-free signal measures the TOTAL distribution's shift
    // against the geometry-time baseline (not the ingested half against
    // the base half), so the same threshold needs proportionally more
    // drift mass: ~80 rows into one cell of a ~500-row index moves the
    // total by ≈ (80/580)·(1 − base_share) ≈ 0.12 > RetrainTvd.
    val hot = SimilarityOps.vectorsDf(spark, idx)
      .groupBy("cluster").count().orderBy(col("count").desc)
      .collect()(0).getAs[Number]("cluster").longValue()
    val hotIds = SimilarityOps.vectorsDf(spark, idx)
      .filter(col("cluster") === hot).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val driftSrc = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id").isin(hotIds.take(40).toSeq: _*))
    val drift = driftSrc
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
      .unionByName(driftSrc
        .select((col("vec_id") + 5500000L).as("vec_id"), col("embedding")))

    // Batch 0 ingests the drift (trigger checks BEFORE the commit, so
    // the signal is still zero — no retrain), then reads TVD over it.
    assert(!StreamingOps.maybeRetrainForBatch(spark, idx,
      SimilarityOps.RetrainTvd, 0.0, 0L), "trigger fired on zero drift")
    StreamingOps.ingestBatch(drift, 0L, idx)
    StreamingOps.writeIngestMarker(spark, idx, 0L)
    val tvd = SimilarityOps.indexOccupancyTvd(spark, idx)
    assert(tvd >= SimilarityOps.RetrainTvd,
      s"drift fixture too weak: tvd=$tvd")

    // Batch 1: the armed check fires, retrains from live rows, and only
    // then would the batch ingest.
    assert(StreamingOps.maybeRetrainForBatch(spark, idx,
      SimilarityOps.RetrainTvd, 0.0, 1L), "trigger did not fire")
    assert(SimilarityOps.artifactDf(spark, idx, "centroids")
      .select("cluster").distinct().count() == SimilarityOps.KmeansK,
      "retrain did not reset K")
    assert(SimilarityOps.indexOccupancyTvd(spark, idx) == 0.0,
      "signal must self-disarm (everything folded to base)")
    // Rows conserved: base + drift, each exactly once.
    val after = SimilarityOps.vectorsDf(spark, idx).localCheckpoint(true)
    val ids = after.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ids.distinct &&
      ids.count(_ >= 5000000L) == 2 * hotIds.take(40).size)
    // The fresh-build identity (the Round15Spec pin, reached by the
    // TRIGGER): every committed artifact equals the append path's
    // derivation of the same rows against the new persisted model.
    val derived = SimilarityOps.appendArtifacts(spark, idx,
      after.select("vec_id", "embedding"))
    val mismatch = after
      .select(col("vec_id"), col("cluster").cast("long").as("have"),
        col("pq_codes").as("have_pq"))
      .join(derived.select(col("vec_id"), col("cluster").cast("long").as("want"),
        col("pq_codes").as("want_pq")), "vec_id")
      .filter(col("have") =!= col("want") || col("have_pq") =!= col("want_pq"))
      .count()
    assert(mismatch == 0, "auto-retrained index != its own fresh derivation")
    after.unpersist(true)
    // Replay guards: the marker (batch 1 acked below) and the partition
    // signature each veto a re-fire even with drift re-planted.
    StreamingOps.writeIngestMarker(spark, idx, 1L)
    assert(!StreamingOps.maybeRetrainForBatch(spark, idx, 1e-9, 0.0, 1L),
      "marker did not veto the replay")
    StreamingOps.ingestBatch(drift.select((col("vec_id") + 1000000L)
      .as("vec_id"), col("embedding")), 2L, idx)
    assert(!StreamingOps.maybeRetrainForBatch(spark, idx, 1e-9, 0.0, 2L),
      "partition signature did not veto the crashed-attempt replay")
    // Dead-codeword signal plumbing: the live fraction is in [0, 1) and
    // a threshold above it does not fire.
    val dead = SimilarityOps.indexDeadCodeFrac(spark, idx)
    assert(dead >= 0.0 && dead < 1.0)
    assert(!StreamingOps.maybeRetrainForBatch(spark, idx, 0.0,
      math.min(1.0, dead + 0.5), 3L))
    // The anchor closes the retrain-per-batch storm. This corpus uses
    // every codeword (frac 0), so build the structurally-dead fixture
    // by pigeonhole: 12 vectors emit at most 12·PqM of the PqM·PqK
    // (sub, code) pairs — dead_frac ≥ 1 − 12/PqK no matter what the
    // trainer does. The armed signal fires ONCE (writing the
    // post-retrain baseline) and must NOT fire again at the unchanged
    // fraction — the per-batch full-rebuild storm the anchor prevents.
    val tinySrc = java.nio.file.Files.createTempDirectory("graft_r16_tiny").toString
    spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") < 12)
      .write.mode("overwrite").parquet(s"$tinySrc/embeddings.parquet")
    val tinyIdx = java.nio.file.Files.createTempDirectory("graft_r16_tinyidx").toString
    SimilarityOps.writeIndex(spark, tinySrc, tinyIdx)
    val dead0 = SimilarityOps.indexDeadCodeFrac(spark, tinyIdx)
    assert(dead0 >= 1.0 - 12.0 / SimilarityOps.PqK,
      s"pigeonhole fixture broke: $dead0")
    assert(StreamingOps.maybeRetrainForBatch(spark, tinyIdx, 0.0, 0.01, 0L),
      "anchoring retrain did not fire")
    assert(StreamingOps.readDeadBaseline(spark, tinyIdx).isDefined)
    assert(!StreamingOps.maybeRetrainForBatch(spark, tinyIdx, 0.0, 0.01, 1L),
      "dead-codeword trigger re-fired at an unchanged fraction — storm")
  }

  // ---- q207: dispatch-aware probe depth (VERDICT r15 stretch #7) -----------

  test("q207 depth rule: all three arms fire at their declared margin " +
    "thresholds, boundary-inclusive — the shallow arm fires on no " +
    "sf-corpus query by design, so it is pinned here") {
    import spark.implicits._
    val got = Seq(0.16, 0.15, 0.149999, 0.05, 0.01, 0.010001, 0.005)
      .toDF("margin")
      .select(col("margin"), SimilarityOps.depthOfMargin(col("margin")).as("d"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got(0.16) == 4L && got(0.15) == 4L, "shallow arm (margin >= 0.15)")
    assert(got(0.149999) == 8L && got(0.05) == 8L && got(0.010001) == 8L)
    assert(got(0.01) == 16L && got(0.005) == 16L, "deep arm (margin <= 0.01)")
  }

  test("q207 probe-depth dispatch ≡ the census: served depths equal the " +
    "plan's np_depth for panel queries") {
    val idx = java.nio.file.Files.createTempDirectory("graft_r16_np").toString
    SimilarityOps.writeIndex(spark, sf, idx)
    import spark.implicits._
    val qdf = embOf.toSeq.sortBy(_._1).toDF("query_id", "embedding")
    val plan = SimilarityOps.queries("q207_probe_depth_plan")(spark, sf)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("np_depth")).toMap
    assert(plan.values.toSet.subsetOf(Set(SimilarityOps.DepthLo.toLong,
      SimilarityOps.NProbeServe.toLong, SimilarityOps.DepthHi.toLong)))
    val served = SimilarityOps.servedTierFeatures(spark, idx, qdf)
      .select(col("query_id"),
        SimilarityOps.depthOfMargin(col("margin")).as("np_depth"))
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Long]("np_depth")).toMap
    assert(served == plan,
      s"served depths diverge from the q207 census: $served vs $plan")
  }
}
