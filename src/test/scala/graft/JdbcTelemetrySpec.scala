package graft

import org.apache.spark.sql.functions._

import graft.router.RouterState
import graft.telemetry.JdbcTelemetryStore

/** Round-trips the JDBC telemetry backend (reference telemetry.py:128-186
  * twin) through embedded Derby — runs append (also to a table Spark's
  * JDBC writer created) + inspection scan, keyed state upsert with default
  * on missing table. */
class JdbcTelemetrySpec extends SparkSpec {
  import spark.implicits._

  private lazy val dbDir =
    java.nio.file.Files.createTempDirectory("graft_derby").resolve("tdb")
  private lazy val store =
    new JdbcTelemetryStore(spark, s"jdbc:derby:$dbDir;create=true")

  private def runsDf(ts: Double, q: String) =
    Seq((ts, q, "hybrid", 1.0, """{"k":5}"""))
      .toDF("ts_unix", "query", "strategy", "score", "meta_json")

  test("state: default before first save, round-trips after") {
    assert(store.loadRouterState() == RouterState())
    val s = RouterState(0.25, -0.125, -0.125, 0.25)
    store.saveRouterState(s)
    assert(store.loadRouterState() == s)
    // upsert: a second save replaces, not duplicates
    val s2 = RouterState(0.5, -0.25, -0.25, 0.25)
    store.saveRouterState(s2)
    assert(store.loadRouterState() == s2)
  }

  test("runs: appends accumulate; recentRuns returns newest first") {
    store.logRuns(runsDf(1.0, "first"))
    store.logRuns(runsDf(2.0, "second"))
    val recent = store.recentRuns(10).collect()
    assert(recent.length == 2)
    assert(recent.head.getAs[String]("query") == "second")
    assert(recent.last.getAs[Double]("ts_unix") == 1.0)
    // string predicates work against the JDBC table (VARCHAR, not CLOB)
    val n = store.recentRuns(10)
      .filter(col("strategy") === "hybrid").count()
    assert(n == 2)
  }

  test("runs: a 3-row frame appends 3 rows in one call, also to a table Spark's JDBC " +
    "writer created") {
    val fresh = new JdbcTelemetryStore(spark, s"jdbc:derby:$dbDir;create=true", "graft_runs3")
    val three = Seq((1.0, "a", "keyword", 1.0, "{}"), (2.0, "b", "vector", 0.5, null),
      (3.0, "c", "hybrid", 0.0, """{"k":5}"""))
      .toDF("ts_unix", "query", "strategy", "score", "meta_json")
    fresh.logRuns(three)
    assert(fresh.recentRuns(10).orderBy("ts_unix").collect().toSeq == three.collect().toSeq)

    runsDf(0.5, "spark-created").write
      .option("createTableColumnTypes",
        "query VARCHAR(4096), strategy VARCHAR(32), meta_json VARCHAR(32000)")
      .jdbc(s"jdbc:derby:$dbDir;create=true", "graft_runs_spark", new java.util.Properties)
    val old = new JdbcTelemetryStore(spark, s"jdbc:derby:$dbDir;create=true", "graft_runs_spark")
    old.logRuns(three)
    assert(old.recentRuns(10).collect().map(_.getAs[String]("query")).toSeq ==
      Seq("c", "b", "a", "spark-created"))
  }

  test("logRuns to an existing runs table and loadRouterState run 0 Spark jobs") {
    val st = new JdbcTelemetryStore(spark, s"jdbc:derby:$dbDir;create=true",
      "graft_runs_jobs", "graft_state_jobs")
    st.logRuns(runsDf(1.0, "creates the table"))
    val s = RouterState(0.1, 0.2, -0.3)
    st.saveRouterState(s)
    val frames = Seq(runsDf(2.0, "second"), runsDf(3.0, "third"))
    val (loaded, jobs) = JobCounter.jobsOf(spark.sparkContext) {
      frames.foreach(st.logRuns)
      st.loadRouterState()
    }
    assert(jobs == 0, s"$jobs Spark jobs")
    assert(loaded == s)
    assert(st.recentRuns(10).count() == 3)
  }
}
