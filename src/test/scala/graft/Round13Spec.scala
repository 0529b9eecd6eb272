package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** Round-13 pins: batched serving for the remaining compressed tiers
  * (VERDICT r12 #1 — int8/pq/pq_rerank ServeMany, per-query equality with
  * the single-request tier), the route→dispatch arc (VERDICT r12 #2 —
  * routeAndServe answers ≡ the chosen tier's own answers; served routing
  * features ≡ the oracle-gated q184 panel features), and the streaming
  * tier wiring for the new tiers.
  */
class Round13Spec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"
  val qids = Seq(0L, 5L, 7L, 13L)

  // One shared index build for the whole suite — every test reads, none
  // mutates.
  private lazy val idx: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_r13_idx").toString
    SimilarityOps.writeIndex(spark, sf, out)
    out
  }

  private lazy val embOf: Map[Long, Array[Float]] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < SimilarityOps.NPanel).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap

  private def reqs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(q => (q, embOf(q))).toDF("query_id", "embedding")
  }

  private def rows(df: org.apache.spark.sql.DataFrame, scoreCol: String) =
    df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
      r.getAs[Double](scoreCol))).toSeq

  private def manyRows(df: org.apache.spark.sql.DataFrame, scoreCol: String)
      : Map[Long, Seq[(Long, Long, Double)]] =
    df.collect().groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
          r.getAs[Double](scoreCol))).toSeq
    }

  test("annInt8ServeMany: each query's rows equal annIvfInt8Serve from " +
    "the same persisted index") {
    val many = manyRows(SimilarityOps.annInt8ServeMany(spark, idx, reqs(qids)), "qcos")
    qids.foreach { q =>
      assert(many(q) == rows(SimilarityOps.annIvfInt8Serve(spark, idx, embOf(q)), "qcos"),
        s"query $q: batched int8 diverged")
    }
  }

  test("annPqServeMany: each query's rows equal annPqServe") {
    val many = manyRows(SimilarityOps.annPqServeMany(spark, idx, reqs(qids)), "adist")
    qids.foreach { q =>
      assert(many(q) == rows(SimilarityOps.annPqServe(spark, idx, embOf(q)), "adist"),
        s"query $q: batched pq diverged")
    }
  }

  test("annPqRerankServeMany: each query's rows equal annPqRerankServe") {
    val many = manyRows(
      SimilarityOps.annPqRerankServeMany(spark, idx, reqs(qids)), "cos")
    qids.foreach { q =>
      assert(many(q) == rows(SimilarityOps.annPqRerankServe(spark, idx, embOf(q)), "cos"),
        s"query $q: batched pq_rerank diverged")
    }
  }

  test("served routing features from the persisted index equal the " +
    "oracle-gated q184 panel features for panel queries") {
    val panel = reqs(embOf.keys.toSeq.sorted)
    val served = SimilarityOps.servedTierFeatures(spark, idx, panel)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Double]("q_norm"), r.getAs[Double]("peak"),
          r.getAs[Double]("margin"), r.getAs[Double]("coverage"))).toMap
    val batch = SimilarityOps.tierRoute(spark, sf)
      .collect().map(r => r.getAs[Long]("qid") ->
        (r.getAs[Double]("q_norm"), r.getAs[Double]("peak"),
          r.getAs[Double]("margin"), r.getAs[Double]("coverage"))).toMap
    assert(served.keySet == batch.keySet)
    served.foreach { case (q, f) =>
      assert(f == batch(q), s"query $q: served features $f != panel ${batch(q)}")
    }
  }

  test("routeAndServe: answers per query are row-identical to the chosen " +
    "tier's own single-query serve; every query answered exactly once") {
    val panelIds = embOf.keys.toSeq.sorted
    val routed = SimilarityOps.routeAndServe(spark, idx, reqs(panelIds))
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(routed.keySet == panelIds.toSet, "a routed query went unanswered")
    val singleOf: Map[String, Array[Float] => org.apache.spark.sql.DataFrame] = Map(
      "float" -> (qv => SimilarityOps.annIvfServe(spark, idx, qv)),
      "binary" -> (qv => SimilarityOps.annBinaryServe(spark, idx, qv)),
      "int8" -> (qv => SimilarityOps.annIvfInt8Serve(spark, idx, qv)),
      "pq" -> (qv => SimilarityOps.annPqServe(spark, idx, qv)),
      "pq_rerank" -> (qv => SimilarityOps.annPqRerankServe(spark, idx, qv)))
    val scoreColOf = Map("float" -> "cos", "binary" -> "cos", "int8" -> "qcos",
      "pq" -> "adist", "pq_rerank" -> "cos")
    val tiersSeen = scala.collection.mutable.Set[String]()
    panelIds.foreach { q =>
      val ans = routed(q).sortBy(_.getAs[Long]("rank"))
      val tiers = ans.map(_.getAs[String]("tier")).distinct
      assert(tiers.length == 1, s"query $q answered by multiple tiers: $tiers")
      val t = tiers.head
      tiersSeen += t
      val got = ans.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Double]("score"))).toSeq
      assert(got == rows(singleOf(t)(embOf(q)), scoreColOf(t)),
        s"query $q (tier $t): routed answers diverged from the tier's own")
    }
    // The zero-state panel census is genuinely multi-way (the q184
    // contract) — routing that collapses to one arm would make this
    // dispatch test vacuous.
    assert(tiersSeen.size >= 2, s"panel routed to a single tier: $tiersSeen")
  }

  test("routeAndServe honors learned weights: a weight shove reroutes a " +
    "query and its answers follow the new tier") {
    val q = qids.head
    val one = reqs(Seq(q))
    // +10 e4-units on pq_rerank dwarfs every feature term — the routed
    // tier must become pq_rerank and the answers must be ITS answers.
    val shoved = SimilarityOps.routeAndServe(spark, idx, one,
      Map("pq_rerank" -> 100000L)).collect()
    assert(shoved.map(_.getAs[String]("tier")).distinct.toSeq == Seq("pq_rerank"))
    val got = shoved.sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"),
        r.getAs[Double]("score"))).toSeq
    assert(got == rows(SimilarityOps.annPqRerankServe(spark, idx, embOf(q)), "cos"))
  }

  test("streaming annServe: tier=pq_rerank and tier=auto answer from the " +
    "same index with the batched tiers' arithmetic") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def streamed(tier: String): Map[Long, Seq[(Long, Long)]] = {
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val resDir = java.nio.file.Files
        .createTempDirectory(s"graft_r13_serve_$tier").toString
      val q = graft.streaming.StreamingOps.annServe(
        stream.toDF().toDF("query_id", "embedding"), idx, resDir, tier = tier)
        .option("checkpointLocation", s"$resDir/ckpt").start()
      try {
        stream.addData(qids.map(i => (i, embOf(i))))
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(resDir).collect()
        .groupBy(_.getAs[Long]("query_id")).map { case (k, rs) =>
          k -> rs.sortBy(_.getAs[Long]("rank"))
            .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"))).toSeq
        }
    }
    val viaStream = streamed("pq_rerank")
    qids.foreach { q =>
      val single = SimilarityOps.annPqRerankServe(spark, idx, embOf(q)).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"))).toSeq
      assert(viaStream(q) == single, s"query $q: streamed pq_rerank diverged")
    }
    val auto = streamed("auto")
    // The streaming auto tier routes at BATCH prices with the slice
    // collapse — its micro-batches dispatch the batched plans, so
    // q200's amortized cost model is the correct one (the int8
    // inversion), and sub-economic slices fold (q203).
    val batch = SimilarityOps.routeAndServe(spark, idx, reqs(qids),
        batchCost = true, sliceAware = true).collect()
      .groupBy(_.getAs[Long]("query_id")).map { case (k, rs) =>
        k -> rs.sortBy(_.getAs[Long]("rank"))
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("rank"))).toSeq
      }
    qids.foreach { q =>
      assert(auto(q) == batch(q), s"query $q: streamed auto diverged from batch")
    }
  }

  test("routeAndServe at batchCost routes every query to q200's " +
    "tier_batch choice and still serves the chosen tier's own answers") {
    val panelIds = embOf.keys.toSeq.sorted
    val expected = SimilarityOps.tierRouteBatch(spark, sf)
      .collect().map(r => r.getAs[Long]("qid") ->
        r.getAs[String]("tier_batch")).toMap
    val routed = SimilarityOps.routeAndServe(spark, idx, reqs(panelIds),
        batchCost = true)
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(routed.keySet == panelIds.toSet)
    panelIds.foreach { q =>
      val tiers = routed(q).map(_.getAs[String]("tier")).distinct
      assert(tiers.toSeq == Seq(expected(q)),
        s"query $q: batch-cost route ${tiers.toSeq} != q200's ${expected(q)}")
    }
  }

  test("bands base dedup: a replayed epoch folded TWICE triggers the " +
    "deduping base rewrite; labels stay correct; no duplicate band rows " +
    "remain; a replay-free fold stays metadata-only") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_dedup").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val n = 3
    (0 until n).foreach { b =>
      StreamingOps.mergeBatchComponents(
        docs.filter(pmod(col("doc_id"), lit(n)) === b), b.toLong, dir)
    }
    assert(StreamingOps.foldDownEpochs(spark, dir))
    val baseCount = spark.read.parquet(s"$dir/bands").count()

    // Replay the last batch (the crash-replay contract: same batchId,
    // same data) — its band rows re-materialize under epoch=2 while the
    // base already holds them from the first fold.
    StreamingOps.mergeBatchComponents(
      docs.filter(pmod(col("doc_id"), lit(n)) === (n - 1)), (n - 1).toLong, dir)
    assert(StreamingOps.foldDownEpochs(spark, dir))

    // The ledger proved epoch=2 was folded before, so the second fold
    // rewrote the base deduped: same distinct rows, zero duplicates,
    // and the total is back to the pre-replay count.
    val bands = spark.read.parquet(s"$dir/bands")
    assert(bands.count() == baseCount,
      "replay duplicates survived the dedup rewrite")
    assert(bands.count() ==
      bands.dropDuplicates("doc_id", "band_id", "band_hash").count())
    // Labels still equal the batch fixpoint recompute after the rewrite.
    val full = graft.operators.DedupOps.dupLabelsFixpoint(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val folded = StreamingOps.currentLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == full)

    // Negative control: a FRESH batch folded once (no replay) must not
    // rewrite the base — the fold stays metadata-only for it.
    val extra = spark.range(1).select(lit(910002L).as("doc_id"),
      lit("zz qq unique gibberish for the dedup control").as("text"))
    StreamingOps.mergeBatchComponents(extra, n.toLong, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pre = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands/epoch=-1"))
      .filter(_.isFile).map(st => (st.getPath.getName, st.getModificationTime))
      .sortBy(_._1).toSeq
    assert(StreamingOps.foldDownEpochs(spark, dir))
    val post = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands/epoch=-1"))
      .filter(_.isFile).map(st => (st.getPath.getName, st.getModificationTime))
      .sortBy(_._1).toSeq
    assert(post.size > pre.size, "the fresh epoch's files did not move in")
    assert(pre.forall(post.contains),
      "a replay-free fold rewrote pre-existing base files")
  }

  test("streaming ingest refreshes the routing cluster-size snapshot: " +
    "coverage is computed against the grown corpus, not the first " +
    "request's memo") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_r13_csz").toString
    SimilarityOps.writeIndex(spark, sf, out)
    val (_, n0) = SimilarityOps.indexClusterSizes(spark, out) // warm the memo
    // One streaming-ingest micro-batch of 5 new vectors.
    val delta = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 5)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    graft.streaming.StreamingOps.ingestBatch(delta, 7L, out)
    val (_, n1) = SimilarityOps.indexClusterSizes(spark, out)
    assert(n1 == n0 + 5,
      s"cluster-size memo stale after ingest: $n0 -> $n1 (want ${n0 + 5})")
  }

  test("bands dedup swap is crash-recoverable: a marker with a staged " +
    "copy redoes the swap; a marker after a completed swap is dropped " +
    "without touching the base") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_r13_crash").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    (0 until 2).foreach { b =>
      StreamingOps.mergeBatchComponents(
        docs.filter(pmod(col("doc_id"), lit(2)) === b), b.toLong, dir)
    }
    assert(StreamingOps.foldDownEpochs(spark, dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(s"$dir/bands/epoch=-1")
    val rows = spark.read.parquet(s"$dir/bands").count()

    // Simulate a crash between the commit marker and the swap: the
    // staged deduped copy exists, the marker exists, the base is GONE.
    val staged = new org.apache.hadoop.fs.Path(s"$dir/.bands_dedup_staged")
    spark.read.parquet(base.toString)
      .select("doc_id", "band_id", "band_hash").distinct()
      .write.mode("overwrite").parquet(staged.toString)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/.bands_dedup_commit")
    val out = fs.create(marker, true); out.write("swap\n".getBytes); out.close()
    fs.delete(base, true)
    assert(!fs.exists(base))
    StreamingOps.recoverBandsDedup(spark, dir)
    assert(fs.exists(base) && !fs.exists(marker) && !fs.exists(staged))
    assert(spark.read.parquet(s"$dir/bands").count() == rows,
      "recovery lost or duplicated band rows")

    // Simulate a crash AFTER the swap (marker present, staged copy
    // gone): recovery must drop the marker and leave the base alone.
    val out2 = fs.create(marker, true); out2.write("swap\n".getBytes); out2.close()
    StreamingOps.recoverBandsDedup(spark, dir)
    assert(fs.exists(base) && !fs.exists(marker))
    assert(spark.read.parquet(s"$dir/bands").count() == rows)
    // And the next fold entry runs recovery implicitly (even when there
    // is nothing to fold) without damage.
    val out3 = fs.create(marker, true); out3.write("swap\n".getBytes); out3.close()
    assert(!StreamingOps.foldDownEpochs(spark, dir)) // no live epochs
    assert(!fs.exists(marker))
    assert(spark.read.parquet(s"$dir/bands").count() == rows)
  }
}
