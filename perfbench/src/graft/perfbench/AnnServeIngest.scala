package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SimilarityOps

/** `ann_serve_ingest`: one client sends seeded micro-batches of query
  * vectors through the shipped streaming-auto dispatch
  * (`routeAndServe(batchCost, sliceAware)`) while the IVF index grows by
  * offline appends — the steps `graft.AppendVectorIndex` runs. */
object AnnServeIngest {
  val TopK = SimilarityOps.TopK

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
  private val QuerySchema = StructType(Seq(
    StructField("query_id", StringType), StructField("embedding", ArrayType(FloatType))))

  private def vecDf(spark: SparkSession, rows: Seq[(Long, Array[Float], Int)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v, l) => Row(id, v.toSeq, l) }.asJava, VecSchema)

  private val serveMany: Map[String, (SparkSession, String, DataFrame) => DataFrame] = Map(
    "binary" -> ((s, i, q) => SimilarityOps.annBinaryServeMany(s, i, q)),
    "float" -> ((s, i, q) => SimilarityOps.annIvfServeMany(s, i, q)),
    "int8" -> ((s, i, q) => SimilarityOps.annInt8ServeMany(s, i, q)),
    "pq" -> ((s, i, q) => SimilarityOps.annPqServeMany(s, i, q)),
    "pq_rerank" -> ((s, i, q) => SimilarityOps.annPqRerankServeMany(s, i, q)))

  def run(spark: SparkSession, a: Args, rep: Report, counters: Option[SparkCounters]): Unit = {
    val sessionS = Main.sinceStartS()
    val corpusDir = s"${a.work}/corpus"
    val idxDir = s"${a.work}/index"
    val base = Inputs.baseVectors()
    vecDf(spark, base).write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
    val buildMs = Clock.ms(SimilarityOps.writeIndex(spark, corpusDir, idxDir))

    val ids = mutable.ArrayBuffer.empty[Long] ++ base.map(_._1)
    val vecs = mutable.ArrayBuffer.empty[Array[Float]] ++ base.map(_._2)
    val idSet = mutable.HashSet.empty[Long] ++ ids
    val rnd = new Random(a.seed)
    var batchNo = 0
    var deltaNo = 0
    val recalls = mutable.ArrayBuffer.empty[Double]
    val tierCount = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val jobsBySize = mutable.Map.empty[Int, Set[Long]]
    var censusAgree = 0L
    var censusTotal = 0L

    /** One routed micro-batch; returns its latency in ms. */
    def serveBatch(size: Int, traced: Boolean): Double = {
      val qs = Inputs.queryVectors(rnd, vecs.toIndexedSeq, size)
      val qids = qs.indices.map(i => s"b$batchNo-$i")
      batchNo += 1
      val qdf = spark.createDataFrame(
        qids.zip(qs).map { case (id, v) => Row(id, v.toSeq) }.asJava, QuerySchema)
      val censused = if (traced) traceTiers(spark, idxDir, qdf, rep) else Map.empty[Any, String]
      val before = if (traced) counters.map(_.snapshot(spark.sparkContext)) else None
      var ms = 0.0
      rep.op(s"batch $batchNo") {
        val (rows, t) = Clock.timed(SimilarityOps.routeAndServe(spark, idxDir, qdf,
          batchCost = true, sliceAware = true).select("query_id", "vec_id", "tier").collect())
        ms = t
        val byQ = rows.groupBy(_.getString(0))
        val idArr = ids.toArray; val vecArr = vecs.toArray
        qids.zip(qs).forall { case (qid, qv) =>
          val got = byQ.getOrElse(qid, Array.empty[Row])
          val gotIds = got.map(_.getLong(1))
          got.headOption.foreach { r =>
            tierCount(r.getString(2)) += 1
            if (traced) {
              censusTotal += 1
              if (censused.get(qid).contains(r.getString(2))) censusAgree += 1
            }
          }
          val ok = rep.gate(gotIds.length == TopK && gotIds.distinct.length == TopK,
            s"$qid: ${gotIds.distinct.length} distinct of ${gotIds.length} ids, want $TopK") &&
            rep.gate(gotIds.forall(idSet.contains), s"$qid: answered an id not in the index")
          if (ok) {
            val exact = RefAnn.exactTopK(qv, idArr, vecArr, TopK)
            recalls += gotIds.count(exact.contains).toDouble / TopK
          }
          ok
        }
      }
      for (c <- counters; b <- before) {
        val d = c.snapshot(spark.sparkContext) - b
        rep.sample("spark.jobs", d.jobs); rep.sample("spark.stages", d.stages)
        rep.sample("spark.tasks", d.tasks); rep.sample("spark.shuffle_mb", d.shuffleBytes / 1e6)
        rep.sample("spark.executor_cpu_ms", d.cpuNs / 1e6)
        rep.sample("similarity.rows_read_per_query", d.inputRecords.toDouble / size)
        jobsBySize(size) = jobsBySize.getOrElse(size, Set.empty) + d.jobs
        val slowest = rep.samplesOf("similarity.batch_tier_max_ms").lastOption.getOrElse(0.0)
        rep.sample("similarity.route_ms", ms - slowest)
        rep.sample("trace.op_p50_ms", ms)
      }
      ms
    }

    /** One offline append of a seeded delta; returns its latency in ms. */
    def append(): Double = {
      val delta = Inputs.delta(a.seed, deltaNo)
      deltaNo += 1
      var ms = 0.0
      rep.op(s"append $deltaNo") {
        val t0 = System.nanoTime()
        val vdir = SimilarityOps.vectorsPath(spark, idxDir)
        val art = SimilarityOps.appendArtifacts(spark, idxDir, vecDf(spark, delta))
          .withColumn("ingest_batch", lit(-1L))
          .localCheckpoint(true)
        val t1 = System.nanoTime()
        art.write.mode("append").partitionBy("cluster", "ingest_batch").parquet(vdir)
        val deltaCounts = art.groupBy("cluster").count().collect()
          .map(r => r.getAs[Number]("cluster").longValue() -> r.getLong(1)).toMap
        SimilarityOps.bumpBaseClusterSizes(spark, idxDir, deltaCounts)
        art.unpersist(true)
        val t2 = System.nanoTime()
        ms = (t2 - t0) / 1e6
        rep.sample("similarity.append_encode_ms", (t1 - t0) / 1e6)
        rep.sample("similarity.append_write_ms", (t2 - t1) / 1e6)
        delta.foreach { case (id, v, _) => ids += id; vecs += v; idSet += id }
        rep.gate(deltaCounts.values.sum == delta.size,
          s"append $deltaNo encoded ${deltaCounts.values.sum} of ${delta.size} rows")
      }
      ms
    }

    // Warm-up outside the timed stream: one batch.
    serveBatch(20, traced = false)
    val setupS = Main.sinceStartS()

    val lat = mutable.ArrayBuffer.empty[Double]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val sizes = mutable.ArrayBuffer.empty[Int]
    var queries = 0L
    val firstRecall = recalls.size
    val w0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - w0) / 1e9
    while ((lat.isEmpty || elapsedS < a.seconds) && Main.sinceStartS() < Main.SafetyS) {
      Inputs.BatchBlock.foreach { s =>
        lat += serveBatch(s, a.trace)
        sizes += s
        queries += s
      }
      appendMs += append()
    }
    val windowS = elapsedS

    // Run end: the vectors table holds every base and appended row.
    val rowsNow = spark.read.parquet(SimilarityOps.vectorsPath(spark, idxDir)).count()
    rep.gate(rowsNow == ids.size, s"index holds $rowsNow rows, expected ${ids.size}")
    val cachedMb = SparkCounters.heldMb(spark)
    val timedRecall = recalls.drop(firstRecall).toSeq

    rep.info("inputs") = Map(
      "base_rows" -> base.size, "dim" -> Inputs.Dim, "index_rows_end" -> ids.size,
      "batch_block" -> Inputs.BatchBlock, "timed_batches" -> lat.size,
      "batch_size_mix" -> sizes.groupBy(identity).map { case (s, v) => s.toString -> v.size },
      "append_every_batches" -> Inputs.BatchBlock.size, "delta_rows" -> Inputs.DeltaRows,
      "appends" -> deltaNo, "query_noise_sigma" -> 0.05)
    rep.info("tiers") = tierCount.toMap
    rep.info("phases_s") = Map("session" -> sessionS, "index_build" -> buildMs / 1000,
      "setup" -> setupS, "window" -> windowS, "latencies_ms" -> lat.toSeq,
      "append_ms" -> appendMs.toSeq)
    Metrics.endToEnd(rep, setupS = setupS, p50Ms = Stats.median(lat.toSeq),
      qps = queries / windowS, quality = Stats.mean(timedRecall), storageMb = cachedMb)

    if (a.trace) {
      rep.info("spark_counts_repeat") = jobsBySize.map { case (k, v) => k.toString -> (v.size == 1) }
      rep.info("census_matches_dispatch") = s"$censusAgree/$censusTotal"
      rep.sample("similarity.index_build_s", buildMs / 1000)
      rep.sample("similarity.ingest_rows_per_s",
        Inputs.DeltaRows * appendMs.size / (appendMs.sum / 1000))
      rep.sample("similarity.files_per_cluster", filesPerCluster(spark, idxDir))
      rep.sample("spark.cached_mb", cachedMb)
      rep.sample("spark.counts_repeat", if (jobsBySize.values.forall(_.size == 1)) 1 else 0)
    }
  }

  /** Census and per-tier spans for one batch, taken before its pipeline
    * call: the batch routing decision, then each routed slice served by its
    * tier's own ServeMany. Returns the census choice per query. */
  private def traceTiers(spark: SparkSession, idxDir: String, qdf: DataFrame,
      rep: Report): Map[Any, String] = {
    val tiers = SimilarityOps.Tiers
    val (choice, censusMs) = Clock.timed {
      val feats = SimilarityOps.servedTierFeatures(spark, idxDir, qdf)
      val ub = SimilarityOps.tierUtilitiesBatch(feats, tiers.map(t => t -> lit(0.0)).toMap)
        .select(col("query_id") +: tiers.map(t => col(s"ub_$t")): _*).collect()
      SimilarityOps.sliceCollapseLocal(ub.toSeq.map(r =>
        (r.get(0): Any) -> tiers.indices.map(i => r.getDouble(i + 1))))
    }
    rep.sample("similarity.census_ms", censusMs)
    val perTier = choice.groupBy(_._2).map { case (t, m) =>
      val slice = qdf.filter(col("query_id").isin(m.keys.toSeq: _*))
      val ms = Clock.ms(serveMany(t)(spark, idxDir, slice).collect())
      rep.sample(s"similarity.tier_ms.$t", ms)
      ms
    }
    rep.sample("similarity.batch_tier_max_ms", if (perTier.isEmpty) 0.0 else perTier.max)
    choice
  }

  /** Data files per cluster partition of the active vectors table. */
  private def filesPerCluster(spark: SparkSession, idxDir: String): Double = {
    val root = new Path(SimilarityOps.vectorsPath(spark, idxDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(root, true)
    var n = 0L
    val clusters = mutable.HashSet.empty[String]
    while (files.hasNext) {
      val p = files.next().getPath
      if (p.getName.endsWith(".parquet")) {
        n += 1
        clusters += p.getParent.getParent.getName
      }
    }
    n.toDouble / math.max(1, clusters.size)
  }
}
