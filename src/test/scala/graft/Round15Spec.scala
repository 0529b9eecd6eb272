package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Memo, Memos, SimilarityOps}

/** Round-15 pins, part 1 — the ADVICE r14 hardening set: the packed-ADC
  * dense-table guard fails loudly, the int8 native expressions skip null
  * array slots (the retired sum()'s semantics) instead of reading unset
  * bytes, streaming annServe refuses a pre-r14 outDir at stream
  * definition, the cluster_sizes artifact's read-modify-write holds a
  * writer lock (single-maintenance-writer contract made loud), and the
  * frame-memo eviction race the tierCache Sync promotion closes.
  */
class Round15Spec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  private lazy val idx: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_r15_idx").toString
    SimilarityOps.writeIndex(spark, sf, out)
    out
  }

  // ---- ADC dense-table guard (ADVICE r14 #2) -------------------------------

  private def adcFrame(tblSize: Int): DataFrame = {
    val codes = Seq.fill(SimilarityOps.PqM)(0L)
    val tbl = Seq.fill(tblSize)(BigDecimal(0.5))
    spark.range(1).select(
      typedlit(codes).as("pq_codes"),
      typedlit(tbl).cast("array<decimal(38,18)>").as("adc_tbl"))
  }

  test("adcDistLocal computes the fold on a dense table and raises " +
    "loudly on a non-dense one (never a silent misalign / null promote)") {
    val dense = adcFrame(SimilarityOps.PqM * SimilarityOps.PqK)
      .select(SimilarityOps.adcDistLocal.as("adist")).collect()(0)
    assert(dense.getDecimal(0).doubleValue() == SimilarityOps.PqM * 0.5)
    val e = intercept[Exception] {
      adcFrame(SimilarityOps.PqM * SimilarityOps.PqK - 1)
        .select(SimilarityOps.adcDistLocal.as("adist")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("non-dense ADC table")),
      s"expected the dense-table guard, got: $e")
  }

  // ---- int8 expressions skip null slots (ADVICE r14 #4) --------------------

  test("Int8Dot / Int8NormSq skip null array elements (the retired " +
    "long-form sum()'s null semantics), never reading unset slots") {
    val df = spark.range(1).select(
      typedlit(Seq[Option[Byte]](Some(1.toByte), None, Some(3.toByte)))
        .as("codes"),
      typedlit(Seq[Long](2L, 5L, 4L)).as("qcodes"),
      typedlit(Seq[Option[Long]](Some(2L), None, Some(4L))).as("qnull"))
    val r = df.select(
      graft.functions.Int8Codes.int8Dot(col("codes"), col("qcodes")).as("dot"),
      graft.functions.Int8Codes.int8Dot(
        typedlit(Seq[Byte](1, 2, 3)), col("qnull")).as("dotq"),
      graft.functions.Int8Codes.int8NormSq(col("codes")).as("nn")).collect()(0)
    assert(r.getAs[Long]("dot") == 1L * 2 + 3L * 4, "left-side null not skipped")
    assert(r.getAs[Long]("dotq") == 1L * 2 + 3L * 4, "right-side null not skipped")
    assert(r.getAs[Long]("nn") == 1L + 9L, "norm null not skipped")
  }

  // ---- streaming outDir schema fail-fast (ADVICE r14 #3) -------------------

  test("annServe fails fast at stream definition on a pre-r14 outDir " +
    "(native score column) and passes an absent or unified-schema dir") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val qdf = stream.toDF().toDF("query_id", "embedding")

    val legacy = java.nio.file.Files
      .createTempDirectory("graft_r15_legacy_out").toString
    Seq((0L, 1L, 1L, 0.9)).toDF("query_id", "vec_id", "rank", "cos")
      .coalesce(1).write.mode("overwrite").parquet(legacy)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.annServe(qdf, idx, legacy)
    }
    assert(e.getMessage.contains("pre-r14 outDir"), e.getMessage)

    // Absent dir: passes (the common fresh-stream case).
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_r15_fresh_out").toString + "/sub"
    graft.streaming.StreamingOps.annServe(qdf, idx, fresh)
    // Unified-schema dir: resumable.
    Seq((0L, 1L, 1L, 0.9, "float"))
      .toDF("query_id", "vec_id", "rank", "score", "tier")
      .coalesce(1).write.mode("overwrite").parquet(fresh)
    graft.streaming.StreamingOps.annServe(qdf, idx, fresh)
  }

  // ---- cluster_sizes writer lock (VERDICT r14 #6 / ADVICE r14 #1) ----------

  private def artifactBase(out: String): Map[Long, Long] =
    spark.read.parquet(SimilarityOps.clusterSizesPath(out))
      .filter(col("ingest_batch") === -1L)
      .collect().map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("csz")).toMap

  test("two concurrent cluster_sizes bumps serialize on the writer lock " +
    "— both deltas land (no silent last-writer-wins drop)") {
    val out = java.nio.file.Files.createTempDirectory("graft_r15_lock").toString
    SimilarityOps.writeIndex(spark, sf, out)
    val before = artifactBase(out)
    val c0 = before.keys.min
    val c1 = before.keys.max
    assert(c0 != c1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(Map(c0 -> 5L), Map(c1 -> 7L)).map { d =>
      new Thread(() =>
        try SimilarityOps.bumpBaseClusterSizes(spark, out, d)
        catch { case t: Throwable => errs.add(t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"bump failed: ${errs.peek()}")
    val after = artifactBase(out)
    assert(after(c0) == before(c0) + 5L, "first maintainer's delta dropped")
    assert(after(c1) == before(c1) + 7L, "second maintainer's delta dropped")
    assert((after - c0 - c1) == (before - c0 - c1), "unrelated rows changed")
  }

  test("a held foreign lock fails maintenance LOUDLY after the timeout, " +
    "naming the single-maintenance-writer contract; a stale lock (crashed " +
    "holder) is broken and maintenance proceeds") {
    val out = java.nio.file.Files.createTempDirectory("graft_r15_lock2").toString
    SimilarityOps.writeIndex(spark, sf, out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$out/.cluster_sizes.lock")
    fs.create(lock, false).close()
    spark.conf.set("spark.graft.clusterSizes.lockTimeoutSec", "1")
    try {
      val e = intercept[IllegalStateException] {
        SimilarityOps.refreshClusterSizes(spark, out)
      }
      assert(e.getMessage.contains("single-maintenance-writer"), e.getMessage)
      // Crashed holder: age the lock past lockStaleSec — the next
      // maintainer breaks it and proceeds (and releases it after).
      val old = System.currentTimeMillis() - 700 * 1000L
      fs.setTimes(lock, old, old)
      SimilarityOps.refreshClusterSizes(spark, out)
      assert(!fs.exists(lock), "broken/retaken lock must be released")
    } finally spark.conf.unset("spark.graft.clusterSizes.lockTimeoutSec")
  }

  // ---- q203 slice-size-aware routing (VERDICT r14 #1) ----------------------

  private lazy val embOf: Map[Long, Array[Float]] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < SimilarityOps.NPanel).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap

  private def reqs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(q => (q, embOf(q))).toDF("query_id", "embedding")
  }

  test("q203 census invariants: kept-arm members never move, the " +
    "majority arm always survives, collapsed members land on kept arms, " +
    "and kept <=> (gain >= floor OR majority)") {
    val rows = SimilarityOps.queries("q203_tier_route_slice")(spark, sf).collect()
    val byArm = rows.groupBy(_.getAs[String]("tier_batch"))
    val majority = byArm.map { case (t, rs) => (t, rs.length) }
      .toSeq.sortBy { case (t, n) => (-n, t) }.head._1
    val keptArms = rows.filter(_.getAs[Long]("kept") == 1L)
      .map(_.getAs[String]("tier_batch")).toSet
    assert(keptArms.contains(majority), "majority arm must always be kept")
    rows.foreach { r =>
      val kept = r.getAs[Long]("kept") == 1L
      val gain = r.getAs[Double]("gain"); val open = r.getAs[Double]("open_u")
      val arm = r.getAs[String]("tier_batch")
      assert(kept == (gain >= open || arm == majority),
        s"arm $arm: kept=$kept disagrees with gain=$gain open=$open")
      if (kept) {
        assert(r.getAs[Long]("collapsed") == 0L, s"kept-arm member moved: $r")
        assert(r.getAs[String]("tier_final") == arm)
      } else {
        assert(r.getAs[Long]("collapsed") == 1L)
        assert(keptArms.contains(r.getAs[String]("tier_final")),
          s"collapsed member landed on a closed arm: $r")
      }
    }
  }

  test("routeAndServe(batchCost, sliceAware) dispatches every panel query " +
    "to q203's tier_final, and each routed group's answers equal its " +
    "tier's own batched answers") {
    val panelIds = embOf.keys.toSeq.sorted
    val expected = SimilarityOps.queries("q203_tier_route_slice")(spark, sf)
      .collect().map(r => r.getAs[Long]("qid") ->
        r.getAs[String]("tier_final")).toMap
    val routed = SimilarityOps.routeAndServe(spark, idx, reqs(panelIds),
      batchCost = true, sliceAware = true).collect()
    val routedTier = routed.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        val ts = rs.map(_.getAs[String]("tier")).distinct
        assert(ts.length == 1, s"query $q served by multiple tiers")
        q -> ts.head
      }
    assert(routedTier == expected,
      s"dispatch diverged from q203:\n got $routedTier\n exp $expected")
    // Answers per routed group ≡ that tier's own batched plan.
    val serveManyOf: Map[String, (org.apache.spark.sql.DataFrame, String)] =
      expected.values.toSet.map { (t: String) =>
        val slice = reqs(expected.collect { case (q, tt) if tt == t => q }.toSeq.sorted)
        t -> (t match {
          case "binary" => (SimilarityOps.annBinaryServeMany(spark, idx, slice), "cos")
          case "float" => (SimilarityOps.annIvfServeMany(spark, idx, slice), "cos")
          case "int8" => (SimilarityOps.annInt8ServeMany(spark, idx, slice), "qcos")
          case "pq" => (SimilarityOps.annPqServeMany(spark, idx, slice), "adist")
          case "pq_rerank" =>
            (SimilarityOps.annPqRerankServeMany(spark, idx, slice), "cos")
        })
      }.toMap
    val got = routed.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).sorted.toSeq
    val exp = serveManyOf.values.flatMap { case (df, scoreCol) =>
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double](scoreCol)))
    }.toSeq.sorted
    assert(got == exp, "routed answers diverged from the tiers' own plans")
  }

  test("routeAndServe(batchCost, sliceAware) from 4 threads on one session " +
    "serves the serial answers and holds no persisted RDD after release") {
    val panelIds = embOf.keys.toSeq.sorted
    def serve(): Seq[(Long, Long, Long, Double, String)] =
      SimilarityOps.routeAndServe(spark, idx, reqs(panelIds),
        batchCost = true, sliceAware = true).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("score"), r.getAs[String]("tier"))).sorted.toSeq
    Memos.release(idx)
    val heldBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val serial = serve()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val concurrent = try {
      Await.result(Future.sequence((0 until 4).map(_ => Future(serve()))), Duration(10, "min"))
    } finally pool.shutdown()
    concurrent.zipWithIndex.foreach { case (c, t) =>
      assert(c == serial, s"thread $t answers diverged from the serial run")
    }
    // The index memos go with release; each request's localCheckpoint
    // blocks go with its frames, through the ContextCleaner.
    Memos.release(idx)
    def held = spark.sparkContext.getPersistentRDDs.keySet.toSet -- heldBefore
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (held.nonEmpty && System.nanoTime() < deadline) { System.gc(); Thread.sleep(250) }
    assert(held.isEmpty, s"persisted RDDs left after release: $held")
  }

  // ---- q204: the split plan IS the actuator's selection --------------------

  test("q204 split plan: splitHotCells on a fresh index executes exactly " +
    "the plan's would_split cells in split_rank order, and the census " +
    "invariants hold at the declared parameters") {
    // Forcing ratio so sf0.001 yields a non-empty hot set; a fresh
    // index's cluster_sizes artifact equals the census's kasg counts by
    // construction (Round14Spec artifact == recount), so the selection
    // inputs are identical on both sides.
    val ratio = 1.01
    val maxCells = 3
    val plan = SimilarityOps.splitPlan(spark, sf, ratio, maxCells).collect()
    val expected = plan.filter(_.getAs[Long]("would_split") == 1L)
      .sortBy(_.getAs[Long]("split_rank")).map(_.getAs[Long]("cluster")).toSeq
    assert(expected.nonEmpty, "forcing ratio produced no hot cells — test is vacuous")
    val out = java.nio.file.Files.createTempDirectory("graft_r15_plan").toString
    SimilarityOps.writeIndex(spark, sf, out)
    val executed = SimilarityOps.splitHotCells(spark, out,
      ratio = ratio, maxCells = maxCells).map(_._1)
    assert(executed == expected,
      s"actuator split $executed but the census planned $expected")

    // Declared-parameter census invariants (the oracle-gated q204 shape).
    val dflt = SimilarityOps.queries("q204_split_plan")(spark, sf).collect()
    assert(dflt.map(_.getAs[Long]("cluster")).toSeq.distinct.length == dflt.length)
    dflt.foreach { r =>
      val over = r.getAs[Long]("over_threshold")
      val rk = r.getAs[Long]("split_rank")
      val ws = r.getAs[Long]("would_split")
      assert((over == 1L) == (rk >= 1L), s"rank/threshold disagree: $r")
      assert(ws <= over, s"would_split without over_threshold: $r")
      assert((ws == 1L) == (over == 1L && rk <= SimilarityOps.SplitMaxCells),
        s"would_split disagrees with (over && rank <= max): $r")
      assert((r.getAs[Double]("ratio_to_mean") > 1.0 + 1e-9) || over == 0L,
        s"over-threshold cell at ratio_to_mean <= 1: $r")
    }
  }

  // ---- ingest auto-split trigger (the actuator wired into maintenance) -----

  test("ingest auto-split trigger: a skewed index over the imbalance " +
    "bound is split by the sink's post-batch maintenance (K grows, " +
    "imbalance drops, artifact == recount, rows conserved); disabled " +
    "and under-bound triggers are no-ops") {
    import graft.streaming.StreamingOps
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_r15_autosplit").toString
    SimilarityOps.writeIndex(spark, sf, out)
    // Fresh balanced build: an armed trigger at a sane bound is a no-op.
    assert(!StreamingOps.maybeSplit(spark, out, 3.0),
      "trigger fired on a balanced index")
    // Deliberate skew through the exactly-once ingest path (4 batches of
    // the hottest cell's own rows — the gate-free ingestBatch, each
    // batch refreshing the size artifact).
    val vp = SimilarityOps.vectorsPath(spark, out)
    val hotC = spark.read.parquet(vp).groupBy("cluster").count()
      .orderBy(col("count").desc, col("cluster").asc)
      .collect()(0).getAs[Number]("cluster").longValue()
    val hotRows = spark.read.parquet(vp).filter(col("cluster") === hotC)
      .select("vec_id", "embedding").localCheckpoint(true)
    (1 to 4).foreach { k =>
      StreamingOps.ingestBatch(
        hotRows.select((col("vec_id") + lit(1000000L * k)).as("vec_id"),
          col("embedding")), 500L + k, out)
    }
    val (s0, n0) = SimilarityOps.indexClusterSizes(spark, out)
    val imb0 = s0.values.max.toDouble / (n0.toDouble / s0.size)
    assert(imb0 > 2.0, s"skew setup failed: imbalance $imb0")
    assert(!StreamingOps.maybeSplit(spark, out, 0.0), "disabled trigger acted")
    // Replay guard: batch 503's partitions exist (the skew ingest above
    // committed them), so the sink treats a batch-503 invocation as a
    // crashed-attempt replay and MUST NOT split — a split interleaved
    // with an uncommitted batch could strand a replayed row and its
    // folded copy in different cluster partitions.
    assert(StreamingOps.batchPartitionsExist(spark, out, 503L))
    assert(!StreamingOps.maybeSplitForBatch(spark, out, 2.0, 503L),
      "split ran during a replay")
    assert(!StreamingOps.batchPartitionsExist(spark, out, 999L))
    val rowsBefore = spark.read.parquet(SimilarityOps.vectorsPath(spark, out)).count()

    // One streamed micro-batch with the trigger armed: the sink ingests
    // the row, then its post-batch maintenance splits the hot cell.
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val anchors = e.filter(col("vec_id").between(1, SimilarityOps.LshAnchors))
      .collect()
      .map(r => (r.getLong(0).toInt,
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
      .sortBy(_._1).toSeq
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, scala.collection.Seq[Float])]
    val q = StreamingOps.indexIngest(
        stream.toDF().toDF("vec_id", "ts", "embedding")
          .withColumn("embedding", col("embedding").cast("array<float>")),
        "ts", "1 hour", anchors, out, autoSplitImbalance = 2.0)
      .start()
    try {
      stream.addData(Seq((7777777L,
        new java.sql.Timestamp(1700000000000L), embOf(0L).toSeq)))
      q.processAllAvailable()
    } finally q.stop()

    val (s1, n1) = SimilarityOps.indexClusterSizes(spark, out)
    assert(s1.size > s0.size, "post-batch maintenance split no cell")
    val imb1 = s1.values.max.toDouble / (n1.toDouble / s1.size)
    assert(imb1 < imb0, s"imbalance did not drop: $imb0 -> $imb1")
    val after = spark.read.parquet(SimilarityOps.vectorsPath(spark, out))
    assert(after.count() == rowsBefore + 1, "ingested rows not conserved")
    val recount = after.groupBy("cluster").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Number]("cluster").longValue() -> r.getAs[Long]("n")).toMap
    assert(s1 == recount, "cluster_sizes artifact diverged from recount")
  }

  // ---- hot-cell split: the geometry panel's actuator (VERDICT r14 #2) ------

  test("splitHotCells: rows conserved and correctly re-assigned, pq_codes " +
    "re-encoded against the new sub-centroids, the size artifact tracks " +
    "the split, imbalance drops, full-probe answers are unchanged, and " +
    "the orphan heal reconstructs a lost sub-centroid bit-identically") {
    import org.apache.spark.sql.expressions.Window
    val out = java.nio.file.Files.createTempDirectory("graft_r15_split").toString
    SimilarityOps.writeIndex(spark, sf, out)
    def counts(): Map[Long, Long] =
      SimilarityOps.vectorsDf(spark, out).groupBy("cluster")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getAs[Number]("cluster").longValue() -> r.getAs[Long]("n")).toMap
    def artifact(): Map[Long, Long] =
      spark.read.parquet(SimilarityOps.clusterSizesPath(out))
        .groupBy("cluster").agg(sum("csz").as("n")).collect()
        .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("n")).toMap
    val before = counts()
    val idsBefore = SimilarityOps.vectorsDf(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val qids = Seq(0L, 5L, 7L, 13L)
    val kAll = before.size + 2 // nprobe covering every cell, pre and post
    val fullBefore = qids.map(q => q ->
      SimilarityOps.annIvfServe(spark, out, embOf(q), nprobe = kAll)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
          r.getAs[Double]("cos"))).toSeq).toMap
    val servedBefore = qids.map(q => q ->
      SimilarityOps.annIvfServe(spark, out, embOf(q))
        .collect().map(_.getAs[Long]("vec_id")).toSet).toMap

    val res = SimilarityOps.splitHotCells(spark, out, ratio = 1.01, maxCells = 1)
    assert(res.length == 1, s"expected exactly one split, got $res")
    val (c, nid) = res.head
    assert(before.contains(c) && !before.contains(nid))

    // (a) rows conserved.
    val after = counts()
    assert(SimilarityOps.vectorsDf(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq == idsBefore)
    assert(after(c) + after(nid) == before(c), "split cell lost/gained rows")
    assert((after - c - nid) == (before - c), "other cells touched")
    // (d) the split cell's halves are strictly smaller.
    assert(after(c) < before(c) && after(nid) < before(c))
    // (e) artifact == recount.
    assert(artifact() == after, "cluster_sizes artifact diverged")

    // (b) every split row sits on its NEARER sub-centroid (decimal
    // squared-L2, ties to the lower cluster id) …
    val cent2 = SimilarityOps.artifactDf(spark, out, "centroids")
      .filter(col("cluster").isin(c, nid))
    val ex = SimilarityOps.vectorsDf(spark, out)
      .filter(col("cluster").isin(c, nid))
      .select(col("vec_id"), col("cluster").cast("long").as("have"),
        posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select(col("vec_id"), col("have"), col("pos"), col("v0").cast("double").as("v"))
    val want = ex.join(broadcast(cent2), "pos")
      .groupBy(col("vec_id"), col("have"), cent2("cluster").as("cand"))
      .agg(sum(((col("v") - col("c")) * (col("v") - col("c")))
        .cast("decimal(38,18)")).as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist").asc, col("cand").asc)))
      .filter(col("rn") === 1)
    assert(want.filter(col("have") =!= col("cand")).count() == 0,
      "a split row is not on its nearer sub-centroid")

    // … and (b2) each committed sub-centroid IS the per-pos decimal mean
    // of its committed members (the heal identity).
    val meanOf = ex.groupBy(col("have").as("cluster"), col("pos"))
      .agg((sum(col("v").cast("decimal(38,18)")).cast("double") / count(lit(1)))
        .as("m"))
    val centDiff = cent2.join(meanOf, Seq("cluster", "pos"))
      .filter(col("c") =!= col("m")).count()
    assert(centDiff == 0, "sub-centroid != decimal mean of its members")

    // (c) pq_codes equal a fresh residual encode against the NEW
    // sub-centroids with the persisted codebooks.
    val exPlain = ex.select("vec_id", "pos", "v")
    val rex = ex.join(broadcast(cent2.withColumnRenamed("cluster", "have")),
      Seq("have", "pos"))
      .select(col("vec_id"), col("pos"), (col("v") - col("c")).as("v"))
    val freshPq = SimilarityOps.pqCodeColumn(SimilarityOps.pqAssign(
      SimilarityOps.withSub(rex),
      SimilarityOps.artifactDf(spark, out, "pq_centroids")))
    val pqMismatch = SimilarityOps.vectorsDf(spark, out)
      .filter(col("cluster").isin(c, nid))
      .select(col("vec_id"), col("pq_codes"))
      .join(freshPq.withColumnRenamed("pq_codes", "fresh"), "vec_id")
      .filter(col("pq_codes") =!= col("fresh")).count()
    assert(pqMismatch == 0, "committed pq_codes != fresh residual encode")
    assert(exPlain.count() > 0)

    // (f) full-probe served answers are UNCHANGED by the split (same
    // candidate set = the whole corpus, same arithmetic), and recall at
    // the declared operating point does not collapse.
    qids.foreach { q =>
      val fullAfter = SimilarityOps.annIvfServe(spark, out, embOf(q), nprobe = kAll)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
          r.getAs[Double]("cos"))).toSeq
      assert(fullAfter == fullBefore(q), s"query $q: full-probe answers changed")
    }
    val truth = fullBefore.map { case (q, rs) => q -> rs.map(_._1).toSet }
    val recBefore = qids.map(q =>
      (servedBefore(q) & truth(q)).size.toDouble / truth(q).size).sum / qids.size
    val recAfter = qids.map { q =>
      val got = SimilarityOps.annIvfServe(spark, out, embOf(q))
        .collect().map(_.getAs[Long]("vec_id")).toSet
      (got & truth(q)).size.toDouble / truth(q).size
    }.sum / qids.size
    assert(recAfter >= recBefore - 0.05,
      s"recall collapsed after split: $recBefore -> $recAfter")

    // Heal: drop nid's centroid rows (the crash window between the data
    // commit and the centroid swap) — healOrphanClusters must
    // reconstruct them BIT-IDENTICALLY and refresh the size artifact.
    val full = SimilarityOps.artifactDf(spark, out, "centroids").localCheckpoint(true)
    val lost = full.filter(col("cluster") === nid)
      .collect().map(r => (r.getAs[Number]("pos").longValue(),
        r.getAs[Double]("c"))).toMap
    SimilarityOps.swapIndexArtifactDir(spark, out, "centroids",
      full.filter(col("cluster") =!= nid))
    graft.operators.Memos.release(out)
    SimilarityOps.healOrphanClusters(spark, out)
    val healed = SimilarityOps.artifactDf(spark, out, "centroids")
      .filter(col("cluster") === nid)
      .collect().map(r => (r.getAs[Number]("pos").longValue(),
        r.getAs[Double]("c"))).toMap
    assert(healed == lost, "healed sub-centroid != committed sub-centroid")
    assert(artifact() == counts(), "heal did not refresh the size artifact")
  }

  // ---- q205: the panel's policy card ---------------------------------------

  test("q205 maintenance plan: flags recompute from the source censuses " +
    "(advise_split ⟺ q204 plans a split; advise_retrain ⟺ the declared " +
    "thresholds on q142 tvd / q173 dead fraction), and advice names the " +
    "highest-escalation flagged verb") {
    val r = SimilarityOps.queries("q205_maintenance_plan")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    val q204over = SimilarityOps.queries("q204_split_plan")(spark, sf)
      .filter(col("over_threshold") === 1L).count()
    assert((row.getAs[Long]("advise_split") == 1L) == (q204over > 0),
      "advise_split disagrees with the q204 split plan")
    val tvd = SimilarityOps.queries("q142_assignment_drift")(spark, sf)
      .agg(max(col("tvd"))).collect()(0).getDouble(0)
    val dead = SimilarityOps.queries("q173_pq_code_occupancy")(spark, sf)
      .agg(sum(col("n_dead"))).collect()(0).getLong(0)
    assert(row.getAs[Double]("tvd") == tvd)
    assert(row.getAs[Long]("n_dead_total") == dead)
    val expectRetrain = tvd >= SimilarityOps.RetrainTvd ||
      row.getAs[Double]("dead_frac") >= SimilarityOps.RetrainDeadFrac
    assert((row.getAs[Long]("advise_retrain") == 1L) == expectRetrain)
    val expectAdvice =
      if (row.getAs[Long]("advise_retrain") == 1L) "retrain"
      else if (row.getAs[Long]("advise_split") == 1L) "split"
      else "none"
    assert(row.getAs[String]("advice") == expectAdvice)
  }

  // ---- full quantizer retrain on a live index ------------------------------

  test("retrainIndex: fresh quantizer from the index's OWN rows — K " +
    "resets to the trained baseline, rows conserved, every committed " +
    "artifact equals its own append-derivation against the new model, " +
    "the size artifact matches a recount, and exact (full-probe) " +
    "answers are unchanged") {
    import graft.streaming.StreamingOps
    val out = java.nio.file.Files.createTempDirectory("graft_r15_retrain").toString
    SimilarityOps.writeIndex(spark, sf, out)
    // Drift the index away from its build corpus: ingest offset copies
    // (new vec_ids), then patch the geometry so K != baseline.
    val extra = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 30)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    StreamingOps.ingestBatch(extra, 11L, out)
    val splits = SimilarityOps.splitHotCells(spark, out, ratio = 1.01, maxCells = 1)
    assert(splits.nonEmpty, "setup split did not run")
    val idsBefore = SimilarityOps.vectorsDf(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val qids = Seq(0L, 5L)
    val kAll = 20 // covers every cell pre (K+1) and post (K) retrain
    val fullBefore = qids.map(q => q ->
      SimilarityOps.annIvfServe(spark, out, embOf(q), nprobe = kAll)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
          r.getAs[Double]("cos"))).toSeq).toMap

    val (kb, ka) = SimilarityOps.retrainIndex(spark, out)
    assert(kb == SimilarityOps.KmeansK + 1, s"pre-retrain K: $kb")
    assert(ka == SimilarityOps.KmeansK)
    assert(SimilarityOps.artifactDf(spark, out, "centroids")
      .select("cluster").distinct().count() == SimilarityOps.KmeansK)

    // Rows conserved across the generation flip.
    val after = SimilarityOps.vectorsDf(spark, out).localCheckpoint(true)
    assert(after.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      == idsBefore)
    // Size artifact == recount of the new generation.
    val recount = after.groupBy("cluster").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Number]("cluster").longValue() -> r.getAs[Long]("n")).toMap
    val (sizes, _) = SimilarityOps.indexClusterSizes(spark, out)
    assert(sizes == recount, "cluster_sizes diverged from the retrained table")

    // The strongest consistency pin: every committed artifact column
    // equals the append path's derivation of the SAME rows against the
    // NEW persisted model (same DECIMAL argmins, same quantizations) —
    // the retrained index is indistinguishable from one that ingested
    // its rows through the incremental path after a from-scratch build.
    val derived = SimilarityOps.appendArtifacts(spark, out,
        after.select("vec_id", "embedding"))
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("codes"), col("scale"), col("pq_codes"), col("bq_lo"), col("bq_hi"))
    val committed = after
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("codes"), col("scale"), col("pq_codes"), col("bq_lo"), col("bq_hi"))
    assert(committed.exceptAll(derived).isEmpty &&
      derived.exceptAll(committed).isEmpty,
      "committed artifacts != append-derivation against the new model")

    // Exact answers are geometry-independent: full-probe top-k identical.
    qids.foreach { q =>
      val fullAfter = SimilarityOps.annIvfServe(spark, out, embOf(q), nprobe = kAll)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
          r.getAs[Double]("cos"))).toSeq
      assert(fullAfter == fullBefore(q), s"query $q: exact answers changed")
    }
  }

  // ---- frame-memo eviction race (the tierCache Sync promotion) ------------

  test("frame memo: Memos.release racing an in-flight Sync cold compute " +
    "unpersists the cached frame (the tierCache plain->Sync promotion)") {
    val dir = s"/tmp/graft_r15_memo_${System.nanoTime()}"
    val m = Memo.frame()
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var frame: DataFrame = null
    val t = new Thread(() => {
      m.getOrElseUpdateSync(s"feats:app:$dir", {
        started.countDown()
        Thread.sleep(300) // eviction arrives mid-compute
        val df = spark.range(5).toDF("x").cache()
        df.count()
        frame = df
        df
      })
      ()
    })
    t.start()
    started.await()
    Memos.release(dir)
    t.join()
    assert(frame != null)
    assert(frame.storageLevel == StorageLevel.NONE,
      "the in-flight compute's cached frame escaped eviction (block leak)")
  }
}
