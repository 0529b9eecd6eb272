package graft.telemetry

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.router.RouterState

/** Telemetry store: append-only run log + single-key router-state upsert
  * (/root/reference/src/beyond_vector_search/telemetry.py:37-92). The
  * reference backs this with SQLite or Postgres; here the default backend is
  * parquet (append-mode for runs, overwrite for the 1-row state table),
  * selected by a config-driven factory like the reference's env dispatch
  * (telemetry.py:189-209). The JDBC twin of the reference's warehouse
  * backend (telemetry.py:128-186) is `JdbcTelemetryStore` below — runnable
  * offline against embedded Derby (bundled with Spark), and against any
  * warehouse JDBC URL in a connected deployment.
  */
trait TelemetryStore {
  /** Append rows (ts_unix, query, strategy, score, meta_json). */
  def logRuns(runs: DataFrame): Unit
  def loadRouterState(): RouterState
  def saveRouterState(state: RouterState): Unit
}

object TelemetryStore {

  /** Env-driven backend dispatch, mirroring the reference's
    * `telemetry_from_env` (telemetry.py:189-209): GRAFT_TELEMETRY selects
    * the backend ("parquet" default | "memory" | "jdbc"). The jdbc arm
    * mirrors the reference's warehouse dispatch: the connection URL env is
    * required (like BVS_LAKEBASE_DSN), table names optional.
    */
  def fromEnv(spark: SparkSession, defaultDir: String = "target/telemetry"): TelemetryStore =
    sys.env.getOrElse("GRAFT_TELEMETRY", "parquet") match {
      case "memory" => new InMemoryTelemetryStore
      case "jdbc" =>
        val url = sys.env.getOrElse("GRAFT_TELEMETRY_JDBC_URL",
          sys.error("GRAFT_TELEMETRY=jdbc requires GRAFT_TELEMETRY_JDBC_URL " +
            "(a JDBC connection string, e.g. jdbc:derby:target/telemetry_db;create=true)"))
        new JdbcTelemetryStore(spark, url,
          sys.env.getOrElse("GRAFT_TELEMETRY_RUNS_TABLE", "graft_runs"),
          sys.env.getOrElse("GRAFT_TELEMETRY_STATE_TABLE", "graft_router_state"))
      case _ =>
        new ParquetTelemetryStore(spark,
          sys.env.getOrElse("GRAFT_TELEMETRY_DIR", defaultDir))
    }
}

/** Parquet-backed store rooted at `dir` (local path or any Hadoop FS URI).
  * Scale note: `runs` is an append-only event log — at production scale it
  * would be date-partitioned (`.partitionBy("ds")`) and compacted; the state
  * table is one row and its overwrite is the parquet analogue of the
  * reference's `ON CONFLICT DO UPDATE` upsert.
  */
final class ParquetTelemetryStore(spark: SparkSession, dir: String) extends TelemetryStore {
  private val runsPath = s"$dir/runs"
  private val statePath = s"$dir/router_state"

  private def exists(p: String): Boolean = {
    val path = new Path(p)
    val fs = FileSystem.get(new URI(p), spark.sparkContext.hadoopConfiguration)
    fs.exists(path)
  }

  /** One append at a time per store: concurrent appends to one path share
    * its `_temporary` directory, and the first job to commit deletes it
    * under the others. */
  override def logRuns(runs: DataFrame): Unit = synchronized {
    runs.write.mode("append").parquet(runsPath)
  }

  /** Inspection scan (reference notebooks/demo.py:285,315):
    * most recent n runs, newest first. */
  def recentRuns(n: Int = 10): DataFrame =
    spark.read.parquet(runsPath)
      .orderBy(org.apache.spark.sql.functions.desc("ts_unix"))
      .limit(n)

  override def loadRouterState(): RouterState =
    if (!exists(statePath)) RouterState()
    else {
      val r = spark.read.parquet(statePath)
        .select("weight_vector", "weight_keyword", "weight_hybrid", "lr")
        .collect()(0)
      RouterState(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }

  override def saveRouterState(state: RouterState): Unit = {
    import spark.implicits._
    Seq((state.weightVector, state.weightKeyword, state.weightHybrid, state.lr))
      .toDF("weight_vector", "weight_keyword", "weight_hybrid", "lr")
      .withColumn("key", lit("router_state:v1"))
      .coalesce(1).write.mode("overwrite").parquet(statePath)
  }
}

/** JDBC-backed store — the Spark twin of the reference's warehouse
  * telemetry backend (telemetry.py:128-186: runs insert, keyed state
  * upsert, lazy table creation). Tested offline against embedded Derby
  * (shipped in Spark's jars); any warehouse JDBC URL works the same way
  * through `spark.read/write.jdbc`.
  *
  * Column types are pinned VARCHAR via `createTableColumnTypes` (Derby's
  * default mapping for StringType is CLOB, which its SQL layer refuses to
  * compare/sort). The state write is a whole-table overwrite of the keyed
  * rows — the JDBC analogue of the reference's single-key
  * `ON CONFLICT DO UPDATE` given telemetry's one-writer usage, matching
  * the parquet backend's overwrite semantics.
  */
final class JdbcTelemetryStore(spark: SparkSession, url: String,
    runsTable: String = "graft_runs",
    stateTable: String = "graft_router_state") extends TelemetryStore {
  import org.apache.spark.sql.SaveMode

  private val props = new java.util.Properties

  /** Table existence via JDBC metadata — a connectivity/auth failure here
    * THROWS instead of reading as "missing": swallowing it would make
    * loadRouterState silently return defaults and the next overwrite-save
    * clobber the real persisted weights. */
  private def tableExists(table: String): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      try {
        Iterator.continually(rs)
          .takeWhile(_.next())
          .exists(_.getString("TABLE_NAME").equalsIgnoreCase(table))
      } finally rs.close()
    } finally conn.close()
  }

  override def logRuns(runs: DataFrame): Unit =
    runs.select("ts_unix", "query", "strategy", "score", "meta_json")
      .write.mode(SaveMode.Append)
      .option("createTableColumnTypes",
        "query VARCHAR(4096), strategy VARCHAR(32), meta_json VARCHAR(32000)")
      .jdbc(url, runsTable, props)

  /** Inspection scan: most recent n runs, newest first (pushes the sort's
    * input scan to the database, orders in Spark). */
  def recentRuns(n: Int = 10): DataFrame =
    spark.read.jdbc(url, runsTable, props).orderBy(desc("ts_unix")).limit(n)

  override def loadRouterState(): RouterState =
    if (!tableExists(stateTable)) RouterState()
    else {
      // The state table is O(keys) — collect then match in Scala.
      spark.read.jdbc(url, stateTable, props).collect()
        .find(_.getAs[String]("key") == "router_state:v1")
        .map(r => RouterState(
          r.getAs[Double]("weight_vector"), r.getAs[Double]("weight_keyword"),
          r.getAs[Double]("weight_hybrid"), r.getAs[Double]("lr")))
        .getOrElse(RouterState())
    }

  override def saveRouterState(state: RouterState): Unit = {
    import spark.implicits._
    Seq((state.weightVector, state.weightKeyword, state.weightHybrid, state.lr))
      .toDF("weight_vector", "weight_keyword", "weight_hybrid", "lr")
      .withColumn("key", lit("router_state:v1"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .option("createTableColumnTypes", "key VARCHAR(64)")
      .jdbc(url, stateTable, props)
  }
}

/** In-memory store for tests / ephemeral sessions; safe for concurrent
  * callers. Each append is collected once into a local relation, so the
  * logged rows (their `current_timestamp()` `ts_unix` included) are the
  * values at log time, not re-evaluated on every read. Collecting the
  * callers' projections over local relations runs no Spark job. */
final class InMemoryTelemetryStore extends TelemetryStore {
  @volatile private var state = RouterState()
  private val logged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  override def logRuns(runs: DataFrame): Unit = {
    val rows = runs.sparkSession.createDataFrame(
      java.util.Arrays.asList(runs.collect(): _*), runs.schema)
    logged.synchronized { logged += rows }
  }
  override def loadRouterState(): RouterState = state
  override def saveRouterState(s: RouterState): Unit = { state = s }
  def runFrames: Seq[DataFrame] = logged.synchronized(logged.toSeq)
}
