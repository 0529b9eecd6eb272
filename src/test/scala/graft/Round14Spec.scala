package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Memo, Memos, SimilarityOps}

/** Round-14 pins: the row-local integer int8 serving arithmetic
  * (VERDICT r13 #1 — the factored BIGINT-sum plans must be row-identical
  * to the retired posexplode/DECIMAL formulation), and the memo
  * eviction/cold-compute serialization (ADVICE r13: an eviction racing an
  * in-flight getOrElseUpdateSync compute must not let a stale value
  * survive).
  */
class Round14Spec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"
  val qids = Seq(0L, 5L, 7L, 13L)

  private lazy val idx: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_r14_idx").toString
    SimilarityOps.writeIndex(spark, sf, out)
    out
  }

  private lazy val embOf: Map[Long, Array[Float]] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < SimilarityOps.NPanel).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
      r.getAs[Double]("qcos"))).toSeq

  /** The PRE-r14 int8 serving formulation, verbatim: posexplode 64
    * reconstruction rows per probed vector, per-term DECIMAL(38,18)
    * sums, shuffle-aggregate back. Kept here as the reference the
    * factored row-local plan is pinned against. */
  private def decimalInt8Serve(
      indexDir: String, queryVec: Array[Float]): org.apache.spark.sql.DataFrame = {
    val probed = SimilarityOps.servedProbe(spark, indexDir, queryVec,
      SimilarityOps.NProbeServe)
    val qx = spark.range(1)
      .select(posexplode(typedlit(queryVec.map(_.toDouble))).as(Seq("pos", "v")))
    val qamax = qx.agg(max(abs(col("v"))).as("amax"))
    val qrec = qx.crossJoin(broadcast(qamax))
      .withColumn("scale", when(col("amax") === 0.0, 1.0).otherwise(col("amax") / 127.0))
      .select(col("pos"), (floor(col("v") / col("scale") + 0.5) * col("scale")).as("qr"))
    val qq = qrec.agg(sum((col("qr") * col("qr")).cast("decimal(38,18)")).as("qq"))
    val comp = SimilarityOps.vectorsDf(spark, indexDir)
      .filter(col("cluster").isin(probed: _*))
      .select(col("vec_id"), col("scale"),
        posexplode(col("codes")).as(Seq("pos", "code")))
      .select(col("vec_id"), col("pos"),
        (col("code").cast("double") * col("scale")).as("r"))
      .join(broadcast(qrec), "pos")
      .groupBy("vec_id")
      .agg(sum((col("r") * col("qr")).cast("decimal(38,18)")).as("dot"),
        sum((col("r") * col("r")).cast("decimal(38,18)")).as("nn"))
    comp.crossJoin(broadcast(qq))
      .select(col("vec_id"),
        when(col("nn") === 0 || col("qq") === 0, 0.0)
          .otherwise(col("dot").cast("double") /
            (sqrt(col("nn").cast("double")) * sqrt(col("qq").cast("double"))))
          .as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id").asc)
      .limit(SimilarityOps.TopK)
      .select(col("vec_id"),
        row_number().over(Window.orderBy(col("qcos").desc, col("vec_id").asc))
          .cast("long").as("rank"),
        graft.operators.r6(col("qcos")).as("qcos"))
      .orderBy("rank")
  }

  test("factored row-local int8 serving is row-identical to the retired " +
    "DECIMAL posexplode formulation, per query") {
    qids.foreach { q =>
      val fast = rows(SimilarityOps.annIvfInt8Serve(spark, idx, embOf(q)))
      val ref = rows(decimalInt8Serve(idx, embOf(q)))
      assert(fast == ref, s"query $q: factored int8 diverged from DECIMAL reference")
    }
  }

  test("the factored int8 candidate stage generates no explode rows " +
    "(the codes array is consumed row-locally)") {
    val plan = SimilarityOps.annIvfInt8Serve(spark, idx, embOf(0L))
      .queryExecution.executedPlan.toString
    // The single-query plan has literal query codes — NOTHING explodes.
    assert(!plan.contains("Generate"),
      s"int8 single-serve plan still explodes:\n$plan")
    assert(plan.contains("int8_dot"), "int8 plan lost the native expression")
  }

  private def reqs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(q => (q, embOf(q))).toDF("query_id", "embedding")
  }

  test("cluster_sizes artifact equals a live recount after build, " +
    "streaming ingest, ingest replay, hot compaction, and full " +
    "compaction; the heal path serves identical routing features") {
    import graft.streaming.StreamingOps
    val out = java.nio.file.Files.createTempDirectory("graft_r14_csz").toString
    SimilarityOps.writeIndex(spark, sf, out)
    def artifact(): Map[Long, Long] =
      spark.read.parquet(SimilarityOps.clusterSizesPath(out))
        .groupBy("cluster").agg(sum("csz").as("n")).collect()
        .map(r => r.getAs[Long]("cluster") -> r.getAs[Long]("n")).toMap
    def recount(): Map[Long, Long] =
      SimilarityOps.vectorsDf(spark, out).groupBy("cluster")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getAs[Number]("cluster").longValue() ->
          r.getAs[Long]("n")).toMap
    assert(artifact() == recount(), "after build")

    // Offline append leg (the AppendVectorIndex shape): append the delta
    // artifacts to the base tier, then fold ONLY the delta's counts into
    // the artifact — no corpus recount.
    val off = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    val art = SimilarityOps.appendArtifacts(spark, out, off)
      .withColumn("ingest_batch", lit(-1L)).localCheckpoint(true)
    art.write.mode("append").partitionBy("cluster", "ingest_batch")
      .parquet(SimilarityOps.vectorsPath(spark, out))
    val dc = art.groupBy("cluster").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Number]("cluster").longValue() ->
        r.getAs[Long]("n")).toMap
    art.unpersist(true)
    SimilarityOps.bumpBaseClusterSizes(spark, out, dc)
    assert(artifact() == recount(), "after offline append bump")

    val delta = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 40)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    StreamingOps.ingestBatch(delta, 7L, out)
    assert(artifact() == recount(), "after ingest")
    val once = artifact()
    // Replay: same batchId, same data (the Structured Streaming replay
    // contract) — the artifact must REPLACE, never double-count.
    StreamingOps.ingestBatch(delta, 7L, out)
    assert(artifact() == once, "replayed batch double-counted")
    assert(artifact() == recount(), "after replay")

    assert(SimilarityOps.compactHotClusters(spark, out, threshold = 1).nonEmpty,
      "ingest should have left hot clusters for the compaction leg")
    assert(artifact() == recount(), "after hot compaction")

    SimilarityOps.compactVectors(spark, out)
    assert(artifact() == recount(), "after full compaction")

    // Heal path: with the artifact deleted (pre-r14 index / crashed
    // swap), the routing snapshot recounts to the SAME features.
    def feats(): Map[Long, (Double, Double, Double, Double)] =
      SimilarityOps.servedTierFeatures(spark, out, reqs(qids)).collect()
        .map(r => r.getAs[Long]("query_id") ->
          (r.getAs[Double]("q_norm"), r.getAs[Double]("peak"),
            r.getAs[Double]("margin"), r.getAs[Double]("coverage"))).toMap
    val withArtifact = feats()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      SimilarityOps.clusterSizesPath(out)), true)
    SimilarityOps.invalidateClusterSizes(out)
    assert(feats() == withArtifact,
      "heal-path recount diverged from the artifact's features")
  }

  test("streaming annServe(tier=auto, stateDir) routes every panel query " +
    "to the slice-collapse of q201's learned-weight batch-price choice " +
    "(r15: the shipped auto path is batchCost + sliceAware)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // The learned state: the q185/q186 fold, persisted through the store
    // exactly as a TierPass would leave it.
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_r14_state").toString
    val fold = SimilarityOps.tierFoldE4(spark, sf)
    SimilarityOps.saveTierState(spark, stateDir, fold)
    // r15: the production auto path collapses sub-economic slices on top
    // of the per-query batch-price argmax, so the streamed tiers are the
    // slice-collapse of q201's choices — and for every query whose arm
    // the collapse KEEPS, they must still equal q201's tier_w1b.
    val expected = SimilarityOps.tierSliceChoices(spark, sf, fold)
      .collect().map(r => r.getAs[Long]("qid") ->
        r.getAs[String]("tier")).toMap
    val perQuery = SimilarityOps.tierRoutePass2Batch(spark, sf)
      .collect().map(r => r.getAs[Long]("qid") ->
        r.getAs[String]("tier_w1b")).toMap
    val keptArms = expected.values.toSet
    perQuery.foreach { case (q, t) =>
      if (keptArms(t))
        assert(expected(q) == t,
          s"query $q: collapse moved a kept-arm member ($t -> ${expected(q)})")
    }

    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val resDir = java.nio.file.Files
      .createTempDirectory("graft_r14_auto_out").toString
    val q = graft.streaming.StreamingOps.annServe(
      stream.toDF().toDF("query_id", "embedding"), idx, resDir,
      tier = "auto", stateDir = Some(stateDir))
      .option("checkpointLocation", s"$resDir/ckpt").start()
    try {
      stream.addData(embOf.keys.toSeq.sorted.map(i => (i, embOf(i))))
      q.processAllAvailable()
    } finally q.stop()

    val routedTier = spark.read.parquet(resDir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (k, rs) =>
        val ts = rs.map(_.getAs[String]("tier")).distinct
        assert(ts.length == 1, s"query $k served by multiple tiers: $ts")
        k -> ts.head
      }
    assert(routedTier.keySet == expected.keySet)
    routedTier.foreach { case (k, t) =>
      assert(t == expected(k),
        s"query $k: streamed auto tier $t != q201's ${expected(k)}")
    }
  }

  test("record-ahead fold ledger: an epoch dir surviving the crash " +
    "window (recorded, files moved, dir not yet deleted) is re-listed " +
    "as replayed, paid with one correct dedup rewrite, and cleaned up") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r14_ledger").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    (0 until 2).foreach { b =>
      StreamingOps.mergeBatchComponents(
        docs.filter(pmod(col("doc_id"), lit(2)) === b), b.toLong, dir)
    }
    assert(StreamingOps.foldDownEpochs(spark, dir))
    val bands0 = spark.read.parquet(s"$dir/bands")
      .collect().map(_.toString).sorted.toSeq
    // The record-ahead crash window: epoch=1 is in the ledger and its
    // files are in the base, but the dir delete never ran. Resurrect it
    // EMPTY (every data file had moved before the ledger write).
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ep1 = new org.apache.hadoop.fs.Path(s"$dir/bands/epoch=1")
    assert(!fs.exists(ep1), "fold should have deleted the epoch dir")
    fs.mkdirs(ep1)
    // Next fold: the ledger intersection flags epoch=1 as replayed — a
    // spurious-but-correct dedup rewrite runs (nothing to remove), the
    // empty dir's zero files "all move", and the dir is deleted.
    assert(StreamingOps.foldDownEpochs(spark, dir))
    assert(!fs.exists(ep1), "the resurrected epoch dir must be retired")
    val bands1 = spark.read.parquet(s"$dir/bands")
      .collect().map(_.toString).sorted.toSeq
    assert(bands1 == bands0, "the spurious rewrite changed band rows")
    val full = graft.operators.DedupOps.dupLabelsFixpoint(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val folded = StreamingOps.currentLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == full)
  }

  test("q202 cluster-size skew card: every stat recounts driver-side " +
    "from the assignment, and the invariants hold") {
    val got = SimilarityOps.queries("q202_cluster_size_skew")(spark, sf)
      .collect()(0)
    val counts = SimilarityOps.kmeansModel(spark, sf)._2
      .groupBy("cluster").agg(count(lit(1)).as("n")).collect()
      .map(_.getAs[Long]("n"))
    val k = counts.length.toLong
    val tot = counts.sum
    val ss = counts.map(c => c * c).sum
    val mean = tot.toDouble / k.toDouble
    def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got.getAs[Long]("n_clusters") == k)
    assert(got.getAs[Long]("n_vectors") == tot)
    assert(got.getAs[Long]("min_csz") == counts.min)
    assert(got.getAs[Long]("max_csz") == counts.max)
    assert(got.getAs[Double]("mean_csz") == r6d(mean))
    assert(got.getAs[Double]("imbalance") == r6d(counts.max.toDouble / mean))
    assert(got.getAs[Double]("cv") ==
      r6d(math.sqrt(ss.toDouble / k.toDouble - mean * mean) / mean))
    // Structural invariants: imbalance ≥ 1 by construction; cv ≥ 0.
    assert(got.getAs[Double]("imbalance") >= 1.0)
    assert(got.getAs[Double]("cv") >= 0.0)
  }

  test("memo eviction serializes against an in-flight cold compute: the " +
    "stale value is evicted and unpersisted, never served (ADVICE r13)") {
    val dir = s"/tmp/graft_r14_memo_${System.nanoTime()}"
    val evicted = new java.util.concurrent.atomic.AtomicInteger(0)
    val m = new Memo[Int](_ => evicted.incrementAndGet())
    val computeStarted = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      m.getOrElseUpdateSync(s"tag:app:$dir", {
        computeStarted.countDown()
        Thread.sleep(300) // the "reading pre-rebuild files" window
        1
      })
      ()
    })
    t.start()
    computeStarted.await()
    // Eviction arrives MID-COMPUTE (the writeIndex-rebuild interleaving).
    // It must wait for the insert and then remove + unpersist it.
    Memos.release(dir)
    t.join()
    assert(evicted.get() == 1,
      "the in-flight compute's value escaped eviction (stale-serve window)")
    var recomputed = false
    m.getOrElseUpdateSync(s"tag:app:$dir", { recomputed = true; 2 })
    assert(recomputed, "a stale entry survived release")
  }
}
