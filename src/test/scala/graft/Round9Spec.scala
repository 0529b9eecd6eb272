package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, SimilarityOps}
import graft.textops.TextOps

/** Round-9 pins: fixpoint connected components (VERDICT r8 #2), the OPQ
  * rotation decision (VERDICT r8 #4), and the ASCII-whitespace parity
  * contract (VERDICT r8 #5). */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  // ---- fixpoint connected components --------------------------------------

  /** A diameter-4 chain A~B~C~D~E plus an isolated node: the exact shape
    * the bounded 3-hop propagation (q49's declared oracle semantics)
    * provably tears and the production fixpoint must not. */
  def chain() = (
    Seq(1L, 2L, 3L, 4L, 5L, 10L).toDF("doc_id"),
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst"))

  test("fixpoint labels collapse a diameter-4 chain to one component") {
    val (nodes, pairs) = chain()
    val fix = DedupOps.fixpointLabels(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(fix(_) == 1L))
    assert(fix(10L) == 10L)
    assert(fix.values.toSet == Set(1L, 10L))
  }

  test("bounded 3-hop propagation provably tears the same chain") {
    val (nodes, pairs) = chain()
    val bounded = DedupOps.propagateRounds(nodes, pairs, DedupOps.ClusterIterations)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Node 5 is 4 hops from the component min: after exactly 3 rounds its
    // label is 2, not 1 — the torn half that would leak splits and retain
    // duplicates if a policy operator consumed bounded labels.
    assert(bounded(5L) == 2L)
    assert(bounded(4L) == 1L)
    assert(bounded.values.toSet.size == 3) // {1, 2, 10}: the chain is torn
  }

  test("on testdata the fixpoint and bounded labels agree (CORRECTNESS stays green)") {
    // LSH near-dup clusters in the corpus are near-cliques (diameter <= 3),
    // so the q75/q76/q145/q150 oracles' 3-hop unrolled CTEs remain exact
    // for the fixpoint labels they now gate. This equality is the load-
    // bearing fact; the chain tests above pin why it is not a tautology.
    val fix = DedupOps.dupLabelsFixpoint(spark, sf)
    val bounded = DedupOps.dupLabels(spark, sf)
    assert(fix.exceptAll(bounded).isEmpty && bounded.exceptAll(fix).isEmpty)
  }

  test("q159 output: one row per doc, sizes sum per component") {
    val out = DedupOps.dupClustersFixpoint(spark, sf)
    val n = out.count()
    assert(n == spark.read.parquet(s"$sf/documents.parquet").count())
    // Every member of a cluster reports the same size, and that size is
    // the member count.
    val bad = out.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), min("cluster_size").as("lo"), max("cluster_size").as("hi"))
      .filter(col("n") =!= col("lo") || col("lo") =!= col("hi"))
      .count()
    assert(bad == 0)
  }

  // ---- streaming ingest auto-compaction (VERDICT r8 #6) -------------------

  def maxFilesPerCluster(out: String): Int = {
    val vecPath = new org.apache.hadoop.fs.Path(s"$out/vectors")
    val fs = vecPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(vecPath).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
      .map { c =>
        val it = fs.listFiles(c.getPath, true)
        var n = 0
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }.foldLeft(0)(math.max)
  }

  test("ingest auto-compaction bounds files-per-cluster; serving unchanged across the swap") {
    import graft.operators.SimilarityOps
    import graft.streaming.StreamingOps
    val out = java.nio.file.Files.createTempDirectory("graft_autocompact").toString
    SimilarityOps.writeIndex(spark, sf, out)
    val base = spark.read.parquet(s"$out/vectors").count()

    // Six ingested batches through the exact foreachBatch body (append +
    // post-batch compaction check) with a low bound so the trigger fires
    // mid-loop. Each batch lands 20 vectors spread over the clusters, so
    // untriggered appends grow every cluster's file count by ~1.
    val threshold = 3
    var compactions = 0
    val batches = 6
    (0 until batches).foreach { b =>
      val batch = spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") < 20)
        .select((col("vec_id") + 7000000L + b * 1000L).as("vec_id"), col("embedding"))
      StreamingOps.ingestBatch(batch, b.toLong, out)
      if (StreamingOps.maybeCompact(spark, out, threshold)) compactions += 1
    }
    assert(compactions >= 1, "auto-compaction never triggered")
    // The steady-state invariant: after every post-batch check, no
    // cluster holds more than `threshold` files, no matter how long the
    // stream has run.
    assert(maxFilesPerCluster(out) <= threshold,
      s"files-per-cluster ${maxFilesPerCluster(out)} > bound $threshold")
    // No rows lost or duplicated across however many swaps happened.
    assert(spark.read.parquet(s"$out/vectors").count() == base + batches * 20)
    assert(spark.read.parquet(s"$out/vectors")
      .groupBy("vec_id").count().filter(col("count") > 1).isEmpty)

    // Served answers are IDENTICAL across a forced swap: append one more
    // (uncompacted) batch so files > 1 somewhere, collect the float-tier
    // answer, compact (rows untouched, layout rewritten), collect again.
    StreamingOps.ingestBatch(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") < 20)
        .select((col("vec_id") + 7900000L).as("vec_id"), col("embedding")),
      batches.toLong, out)
    val qv = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === SimilarityOps.QueryVecId)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val servedBefore = SimilarityOps.annIvfServe(spark, out, qv).collect().toSeq
    assert(StreamingOps.maybeCompact(spark, out, 1), "forced compaction did not run")
    assert(maxFilesPerCluster(out) == 1)
    val servedAfter = SimilarityOps.annIvfServe(spark, out, qv).collect().toSeq
    assert(servedBefore == servedAfter, "served answer changed across the compaction swap")
  }

  // ---- memo lifecycle under memory pressure (VERDICT r8 stretch #8) -------

  test("Memos.release prevents eviction churn under a constrained budget (forked JVM)") {
    // The budget must be fixed at context creation (spark.testing.memory),
    // so the experiment runs in its own JVM — graft.tools.MemoPressure
    // require()s both halves: churn OBSERVED with two corpora cached
    // (budget binding, run not vacuous), churn ZERO after release.
    val java = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java) ++ addOpens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"), "graft.tools.MemoPressure")
    val out = new StringBuilder
    val logger = scala.sys.process.ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') }, _ => ())
    val exit = scala.sys.process.Process(cmd).!(logger)
    assert(exit == 0, s"MemoPressure exited $exit:\n$out")
    assert(out.toString.contains("\"memo_pressure\":\"ok\""), out.toString)
  }

  // ---- ASCII-whitespace parity contract (COVERAGE.md §2.2) ----------------

  test("NBSP is NOT whitespace: the declared Java-ASCII \\s contract") {
    // The Python reference's str.split()/\s are Unicode-aware; the engine
    // PINS Java-ASCII semantics via the explicit WsChars class so Spark
    // and the RE2-based oracle agree byte-for-byte. Contract: U+00A0 is a
    // non-whitespace character everywhere in the engine.
    val df = Seq(("a\u00A0b", "a \t b")).toDF("nbsp", "tabbed")
    val row = df.select(
      TextOps.wsNormalize(col("nbsp")).as("n1"),
      TextOps.emKey(col("nbsp")).as("n2"),
      TextOps.strip(concat(lit(" "), col("nbsp"), lit(" "))).as("n3"),
      TextOps.wsNormalize(col("tabbed")).as("t1"),
      TextOps.tokenize(col("nbsp")).as("toks")).collect()(0)
    assert(row.getString(0) == "a\u00A0b") // NBSP survives normalization
    assert(row.getString(1) == "a\u00A0b") // and the EM key
    assert(row.getString(2) == "a\u00A0b") // strip eats the ASCII pads only
    assert(row.getString(3) == "a b") // ASCII whitespace still collapses
    // tokenize is [a-z0-9]+-driven, so it splits on NBSP like the
    // reference does -- the divergence is confined to the \s family.
    assert(row.getSeq[String](4) == Seq("a", "b"))
  }

  test("q103 cleaner treats NBSP as content, not squeezable whitespace") {
    val cleanedNbsp = Seq("x\u00A0\u00A0y").toDF("text")
      .select(trim(regexp_replace(lower(col("text")),
        s"${TextOps.WsClass}+", " ")).as("c")).collect()(0).getString(0)
    assert(cleanedNbsp == "x\u00A0\u00A0y")
  }
}
