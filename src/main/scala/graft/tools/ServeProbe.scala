package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** `runMain graft.tools.ServeProbe [sfDir]` — serve-path measurement
  * harness for the round-13 levers, run OUTSIDE the full bench so a
  * change can be priced in minutes:
  *   - `routed_batch20_ms`: routeAndServe over the NPanel panel
  *     (measures the concurrent per-tier dispatch vs the sequential
  *     union the r13 artifact priced at 2.8 s);
  *   - `routed_batchcost_batch20_ms`: the same under q200's batch
  *     prices (fewer, cheaper arms typically present);
  *   - `float_1row_batch_ms` vs `float_single_ms`: whether collapsing
  *     the probe collect into one dynamic-pruning plan (ServeMany with
  *     a 1-row frame) beats the two-job single-request tier — decides
  *     whether a resident loop should funnel singles through the
  *     batched plan.
  * Each number is a min of 5 after a warmup pass.
  */
object ServeProbe {
  def main(args: Array[String]): Unit = {
    // `--pins` (r16 — VERDICT r15 #5): measure ONLY the serve-economics
    // ratio inputs (per-tier batch20 + 1-row rows), print the within-run
    // ratio table as ONE JSON line, and exit — the machine-checkable
    // half of the q200/q201/TierOpenE4 re-pin discipline
    // (tools/check_pins.py compares run medians against the recorded
    // ranges in tools/pins.json and exits nonzero when one leaves).
    // Flags parse position-free so `ServeProbe --pins` works too.
    val pinsMode = args.contains("--pins")
    val pos = args.filterNot(_.startsWith("--"))
    val dir = if (pos.nonEmpty) pos(0) else "/root/testdata/sf0.1"
    // Optional second positional: comma-separated tag substrings — run
    // only the matching rows (fast iteration on one lever without the
    // full sweep).
    val only: Seq[String] =
      if (pos.length > 1 && !pinsMode) pos(1).split(",").toSeq.filter(_.nonEmpty)
      else Nil
    val spark = graft.Cli.session()
    graft.Cli.quietBoundedWindowWarnings()
    import spark.implicits._

    val idx = java.nio.file.Files.createTempDirectory("graft_serve_probe").toString
    SimilarityOps.writeIndex(spark, dir, idx)

    val panel = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < SimilarityOps.NPanel)
      .orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qdf = panel.toSeq.toDF("query_id", "embedding")
    val one = Seq(panel.head).toDF("query_id", "embedding")

    def timed(run: => Unit): Double = {
      run // warmup
      (1 to 5).map { _ =>
        val t0 = System.nanoTime(); run; (System.nanoTime() - t0) / 1e6
      }.min
    }

    def time(tag: String)(run: => Unit): Unit = {
      if (only.nonEmpty && !only.exists(tag.contains)) return
      println(f"""[serveprobe] "$tag": ${timed(run)}%.1f""")
    }

    if (pinsMode) {
      // Hybrid-serve pin input (r17 — VERDICT r16 #5): the persisted
      // token+gram indexes' batched RRF fusion over the FixedQueries
      // panel, ratioed against float batch20 like every other arm.
      import graft.operators.RetrievalOps
      graft.stats.IndexStore.save(spark,
        RetrievalOps.tokenIndex(spark, dir), "probe_hyb_tok")
      graft.stats.IndexStore.saveGram(spark,
        RetrievalOps.gramIndex(spark, dir), "probe_hyb_gram")
      val hybQ = RetrievalOps.FixedQueries.toDF("query_id", "query")
        .localCheckpoint(true)
      val hybridMs = timed(RetrievalOps.hybridServeMany(spark,
        "probe_hyb_tok", "probe_hyb_gram", hybQ).collect())
      // Hybrid arm-opening floor (r18 — the six-arm census's collapse
      // economics need the text arm's 1-row plan price like every
      // vector tier's): one FixedQueries row through the same batched
      // RRF plan.
      val hybOne = Seq(RetrievalOps.FixedQueries.head)
        .toDF("query_id", "query").localCheckpoint(true)
      val hybrid1Ms = timed(RetrievalOps.hybridServeMany(spark,
        "probe_hyb_tok", "probe_hyb_gram", hybOne).collect())
      val batch20: Map[String, Double] = Map(
        "float" -> timed(SimilarityOps.annIvfServeMany(spark, idx, qdf).collect()),
        "binary" -> timed(SimilarityOps.annBinaryServeMany(spark, idx, qdf).collect()),
        "int8" -> timed(SimilarityOps.annInt8ServeMany(spark, idx, qdf).collect()),
        "pq" -> timed(SimilarityOps.annPqServeMany(spark, idx, qdf).collect()),
        "pq_rerank" -> timed(SimilarityOps.annPqRerankServeMany(spark, idx, qdf).collect()))
      val oneRow: Map[String, Double] = Map(
        "float" -> timed(SimilarityOps.annIvfServeMany(spark, idx, one).collect()),
        "binary" -> timed(SimilarityOps.annBinaryServeMany(spark, idx, one).collect()),
        "int8" -> timed(SimilarityOps.annInt8ServeMany(spark, idx, one).collect()),
        "pq" -> timed(SimilarityOps.annPqServeMany(spark, idx, one).collect()),
        "pq_rerank" -> timed(SimilarityOps.annPqRerankServeMany(spark, idx, one).collect()))
      val f20 = batch20("float")
      def entries(m: Map[String, Double], prefix: String) =
        m.toSeq.sortBy(_._1).map { case (t, v) =>
          f""""$prefix$t": ${v / f20}%.4f""" }
      val ratios = (entries(batch20 - "float", "penalty_") ++
        entries(oneRow, "floor_") ++
        Seq(f""""penalty_hybrid": ${hybridMs / f20}%.4f""",
          f""""floor_hybrid": ${hybrid1Ms / f20}%.4f""")).mkString(", ")
      val raw = (batch20.toSeq.sortBy(_._1).map { case (t, v) =>
          f""""${t}_batch20_ms": $v%.1f""" } ++
        oneRow.toSeq.sortBy(_._1).map { case (t, v) =>
          f""""${t}_1row_batch_ms": $v%.1f""" } ++
        Seq(f""""hybrid_batch5_ms": $hybridMs%.1f""",
          f""""hybrid_1row_batch_ms": $hybrid1Ms%.1f""")).mkString(", ")
      println(s"""{"kind": "serve_pins", "sf": "$dir", """ +
        s""""ratios": {$ratios}, "raw_ms": {$raw}}""")
      spark.stop()
      return
    }

    time("census_batch20_ms") {
      SimilarityOps.servedTierFeatures(spark, idx, qdf).collect()
    }
    time("routed_batch20_ms") {
      SimilarityOps.routeAndServe(spark, idx, qdf).collect()
    }
    time("routed_batchcost_batch20_ms") {
      SimilarityOps.routeAndServe(spark, idx, qdf, batchCost = true).collect()
    }
    // r15: the SHIPPED streaming-auto dispatch — batch prices + the q203
    // slice collapse (sub-economic arms fold, fewer plans open).
    time("routed_slice_batch20_ms") {
      SimilarityOps.routeAndServe(spark, idx, qdf, batchCost = true,
        sliceAware = true).collect()
    }
    // Per-tier batch-of-20 rows — the q200 penalty inputs, re-measured
    // here after the r14 int8 rewrite so the census can be re-pinned
    // from the shipped plans' actual prices.
    time("float_batch20_ms") {
      SimilarityOps.annIvfServeMany(spark, idx, qdf).collect()
    }
    time("binary_batch20_ms") {
      SimilarityOps.annBinaryServeMany(spark, idx, qdf).collect()
    }
    time("int8_batch20_ms") {
      SimilarityOps.annInt8ServeMany(spark, idx, qdf).collect()
    }
    time("pq_batch20_ms") {
      SimilarityOps.annPqServeMany(spark, idx, qdf).collect()
    }
    time("pq_rerank_batch20_ms") {
      SimilarityOps.annPqRerankServeMany(spark, idx, qdf).collect()
    }
    time("float_single_ms") {
      SimilarityOps.annIvfServe(spark, idx, panel.head._2).collect()
    }
    time("int8_single_ms") {
      SimilarityOps.annIvfInt8Serve(spark, idx, panel.head._2).collect()
    }
    time("float_1row_batch_ms") {
      SimilarityOps.annIvfServeMany(spark, idx, one).collect()
    }
    time("pq_rerank_single_ms") {
      SimilarityOps.annPqRerankServe(spark, idx, panel.head._2).collect()
    }
    time("pq_rerank_1row_batch_ms") {
      SimilarityOps.annPqRerankServeMany(spark, idx, one).collect()
    }
    // Remaining per-tier 1-row batch floors (r15): the arm-OPENING price
    // each tier pays when a routed slice dispatches it at all — the
    // input to q203's slice-size-aware census (open_floor/|slice| is the
    // unamortized part the batch-of-20 penalties can't see).
    time("binary_1row_batch_ms") {
      SimilarityOps.annBinaryServeMany(spark, idx, one).collect()
    }
    time("int8_1row_batch_ms") {
      SimilarityOps.annInt8ServeMany(spark, idx, one).collect()
    }
    time("pq_1row_batch_ms") {
      SimilarityOps.annPqServeMany(spark, idx, one).collect()
    }
    spark.stop()
  }
}
