package graft.telemetry

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration, PlainParquetConfiguration}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{InputFile, LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.router.RouterState

/** Telemetry store: append-only run log + single-key router-state upsert
  * (/root/reference/src/beyond_vector_search/telemetry.py:37-92). The
  * reference backs this with SQLite or Postgres; here the default backend is
  * parquet (one file per logged batch for runs, overwrite for the 1-row
  * state table), selected by a config-driven factory like the reference's
  * env dispatch (telemetry.py:189-209). The JDBC twin of the reference's
  * warehouse backend (telemetry.py:128-186) is `JdbcTelemetryStore` below —
  * runnable offline against embedded Derby (bundled with Spark), and against
  * any warehouse JDBC URL in a connected deployment.
  *
  * `logRuns` and `loadRouterState` sit on the request path and run no Spark
  * job in any of the three backends: the run frames callers pass are local
  * relations, collected on the driver and written there. The one exception
  * is the JDBC store's first append to a missing runs table, which creates
  * the table with Spark's JDBC writer.
  */
trait TelemetryStore {
  /** Append rows (ts_unix, query, strategy, score, meta_json). */
  def logRuns(runs: DataFrame): Unit
  def loadRouterState(): RouterState
  def saveRouterState(state: RouterState): Unit
}

object TelemetryStore {

  /** The run-log columns, in order, and their types. */
  val RunSchema: StructType = StructType(Seq(
    StructField("ts_unix", DoubleType), StructField("query", StringType),
    StructField("strategy", StringType), StructField("score", DoubleType),
    StructField("meta_json", StringType)))

  /** The router-state row's weight columns, in [[RouterState]] order, and
    * the key column's one value. */
  val StateColumns: Seq[String] = Seq("weight_vector", "weight_keyword", "weight_hybrid", "lr")
  val StateKey = "router_state:v1"

  /** `runs`' run-log columns collected on the driver; fails when one is
    * missing or of another type. Runs no job over a local relation. */
  def collectRuns(runs: DataFrame): Array[Row] = {
    val sel = runs.select(RunSchema.fieldNames.toSeq.map(col): _*)
    require(sel.schema.map(_.dataType) == RunSchema.map(_.dataType),
      s"logRuns: run columns must be ${RunSchema.simpleString}, got ${sel.schema.simpleString}")
    sel.collect()
  }

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

/** A parquet directory the driver reads and writes directly with
  * parquet-hadoop, no Spark job. `uri` resolves as Spark resolves it:
  * against `hadoopConf`, whose `fs.defaultFS` qualifies a scheme-less path.
  * Paths that resolve to the local file system go through java.nio:
  * Hadoop's local file systems start a `chmod` process per created file.
  * Any other file system is written through its Hadoop FileSystem.
  * Visible files are those Spark reads: not `_`- or `.`-prefixed. */
private[telemetry] final class ParquetDir(uri: String, hadoopConf: Configuration) {
  private val fs = new Path(uri).getFileSystem(hadoopConf)
  private val path = fs.makeQualified(new Path(uri))
  private val local: Option[java.nio.file.Path] =
    if (path.toUri.getScheme == "file") Some(Paths.get(path.toUri)) else None
  private def conf: ParquetConfiguration =
    if (local.isDefined) new PlainParquetConfiguration
    else new HadoopParquetConfiguration(hadoopConf)

  /** The visible file names; None when the directory does not exist. */
  def visibleFiles: Option[Seq[String]] = {
    val names = local match {
      case Some(d) =>
        if (!Files.isDirectory(d)) None
        else Some(Using.resource(Files.list(d))(_.iterator.asScala
          .map(_.getFileName.toString).toVector))
      case None =>
        if (!fs.exists(path)) None else Some(fs.listStatus(path).toSeq.map(_.getPath.getName))
    }
    names.map(_.filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted)
  }

  /** Write `rows` under `schema` as one new visible file: first to a
    * hidden name, then renamed, so readers never see a partial file. */
  def writeFile(schema: MessageType, rows: Seq[Group]): Unit = {
    val id = UUID.randomUUID()
    val (tmp, done) = (s".part-$id.parquet", s"part-$id.parquet")
    local match {
      case Some(d) => Files.createDirectories(d)
      case None => fs.mkdirs(path)
    }
    val out: OutputFile = local match {
      case Some(d) => new LocalOutputFile(d.resolve(tmp))
      case None => HadoopOutputFile.fromPath(new Path(path, tmp), hadoopConf)
    }
    try {
      val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
      try rows.foreach(w.write) finally w.close()
      local match {
        case Some(d) => Files.move(d.resolve(tmp), d.resolve(done), StandardCopyOption.ATOMIC_MOVE)
        case None => require(fs.rename(new Path(path, tmp), new Path(path, done)),
          s"could not rename ${new Path(path, tmp)} to $done")
      }
    } catch {
      case e: Throwable =>
        local match {
          case Some(d) => Files.deleteIfExists(d.resolve(tmp))
          case None => fs.delete(new Path(path, tmp), false)
        }
        throw e
    }
  }

  /** Every record of the visible file `name`. */
  def readFile(name: String): Seq[Group] = {
    val in: InputFile = local match {
      case Some(d) => new LocalInputFile(d.resolve(name))
      case None => HadoopInputFile.fromPath(new Path(path, name), hadoopConf)
    }
    val reader = new ParquetReader.Builder[Group](in, conf) {
      override protected def getReadSupport = new GroupReadSupport
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
    finally reader.close()
  }

  override def toString: String = uri
}

/** Parquet-backed store rooted at `dir` (local path or any Hadoop FS URI).
  *
  * Layout: `runs/` holds one `part-<uuid>.parquet` per `logRuns` call —
  * one file per request on the online path — written on the driver under
  * an all-optional schema Spark reads as [[TelemetryStore.RunSchema]]. A
  * file is written under a hidden `.part-` name and renamed into place, so
  * concurrent appends share nothing and `spark.read.parquet` never sees a
  * partial file; directories written by Spark's own appends read back
  * together with these. Compaction of the small files is out of scope: at
  * production scale the log would be date-partitioned and compacted
  * offline. `router_state/` is one row, and its Spark overwrite is the
  * parquet analogue of the reference's `ON CONFLICT DO UPDATE` upsert;
  * `loadRouterState` reads it back on the driver.
  */
final class ParquetTelemetryStore(spark: SparkSession, dir: String) extends TelemetryStore {
  private val runsPath = s"$dir/runs"
  private val statePath = s"$dir/router_state"
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val runsDir = new ParquetDir(runsPath, hadoopConf)
  private val stateDir = new ParquetDir(statePath, hadoopConf)

  /** [[TelemetryStore.RunSchema]] as parquet, every column optional. */
  private val runType: MessageType =
    TelemetryStore.RunSchema.fields.foldLeft(Types.buildMessage(): Types.GroupBuilder[MessageType]) {
      (b, f) => f.dataType match {
        case DoubleType => b.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case StringType => b.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
      }
    }.named("spark_schema")

  override def logRuns(runs: DataFrame): Unit = {
    val groups = new SimpleGroupFactory(runType)
    runsDir.writeFile(runType, TelemetryStore.collectRuns(runs).toSeq.map { r =>
      val g = groups.newGroup()
      TelemetryStore.RunSchema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        r.get(i) match {
          case d: Double => g.add(i, d)
          case s: String => g.add(i, s)
        }
      }
      g
    })
  }

  /** Inspection scan (reference notebooks/demo.py:285,315):
    * most recent n runs, newest first. */
  def recentRuns(n: Int = 10): DataFrame =
    spark.read.parquet(runsPath)
      .orderBy(org.apache.spark.sql.functions.desc("ts_unix"))
      .limit(n)

  override def loadRouterState(): RouterState = stateDir.visibleFiles match {
    case None => RouterState()
    case Some(Seq(file)) =>
      stateDir.readFile(file) match {
        case Seq(g) =>
          val w = TelemetryStore.StateColumns.map(g.getDouble(_, 0))
          RouterState(w(0), w(1), w(2), w(3))
        case rows => throw new IllegalStateException(
          s"router state $stateDir/$file holds ${rows.size} rows, expected 1")
      }
    case Some(files) => throw new IllegalStateException(
      s"router state $stateDir holds ${files.size} data files (${files.mkString(", ")}), expected 1")
  }

  override def saveRouterState(state: RouterState): Unit = {
    import spark.implicits._
    Seq((state.weightVector, state.weightKeyword, state.weightHybrid, state.lr))
      .toDF(TelemetryStore.StateColumns: _*)
      .withColumn("key", lit(TelemetryStore.StateKey))
      .coalesce(1).write.mode("overwrite").parquet(statePath)
  }
}

/** JDBC-backed store — the Spark twin of the reference's warehouse
  * telemetry backend (telemetry.py:128-186: runs insert, keyed state
  * upsert, lazy table creation). Tested offline against embedded Derby
  * (shipped in Spark's jars); any warehouse JDBC URL works the same way.
  *
  * Runs are one plain JDBC batch insert per `logRuns` call, in one
  * transaction, like the reference's synchronous insert, and the state is
  * read with one plain JDBC query. String columns are pinned VARCHAR
  * (Derby's default mapping for StringType is CLOB, which its SQL layer
  * refuses to compare/sort). The state write is a
  * whole-table Spark overwrite of the keyed rows — the JDBC analogue of
  * the reference's single-key `ON CONFLICT DO UPDATE` given telemetry's
  * one-writer usage, matching the parquet backend's overwrite semantics.
  */
final class JdbcTelemetryStore(spark: SparkSession, url: String,
    runsTable: String = "graft_runs",
    stateTable: String = "graft_router_state") extends TelemetryStore {
  import java.sql.{Connection, DriverManager, Types}
  import org.apache.spark.sql.SaveMode
  import org.apache.spark.sql.jdbc.JdbcDialects

  private val props = new java.util.Properties
  private val quote: String => String = JdbcDialects.get(url).quoteIdentifier

  private def withConnection[A](f: Connection => A): A =
    Using.resource(DriverManager.getConnection(url))(f)

  /** Table existence via JDBC metadata — a connectivity/auth failure here
    * THROWS instead of reading as "missing": swallowing it would make
    * loadRouterState silently return defaults and the next overwrite-save
    * clobber the real persisted weights. */
  private def tableExists(conn: Connection, table: String): Boolean =
    Using.resource(conn.getMetaData.getTables(null, null, "%", Array("TABLE"))) { rs =>
      Iterator.continually(rs)
        .takeWhile(_.next())
        .exists(_.getString("TABLE_NAME").equalsIgnoreCase(table))
    }

  /** One batch insert of every row, in one transaction. A missing runs
    * table is first created by Spark's JDBC writer, with the column types
    * (and quoted column names) it has always had, so tables created before
    * stay appendable. */
  override def logRuns(runs: DataFrame): Unit = {
    val rows = TelemetryStore.collectRuns(runs)
    val fields = TelemetryStore.RunSchema.fields.toSeq
    withConnection { conn =>
      if (!tableExists(conn, runsTable))
        runs.sparkSession.createDataFrame(java.util.List.of[Row](), TelemetryStore.RunSchema)
          .write.mode(SaveMode.Append)
          .option("createTableColumnTypes",
            "query VARCHAR(4096), strategy VARCHAR(32), meta_json VARCHAR(32000)")
          .jdbc(url, runsTable, props)
      conn.setAutoCommit(false)
      try {
        Using.resource(conn.prepareStatement(
            s"INSERT INTO $runsTable (${fields.map(f => quote(f.name)).mkString(", ")}) " +
            s"VALUES (${fields.map(_ => "?").mkString(", ")})")) { st =>
          rows.foreach { r =>
            fields.indices.foreach(i => st.setObject(i + 1, r.get(i),
              if (fields(i).dataType == DoubleType) Types.DOUBLE else Types.VARCHAR))
            st.addBatch()
          }
          st.executeBatch()
        }
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      }
    }
  }

  /** Inspection scan: most recent n runs, newest first (pushes the sort's
    * input scan to the database, orders in Spark). */
  def recentRuns(n: Int = 10): DataFrame =
    spark.read.jdbc(url, runsTable, props).orderBy(desc("ts_unix")).limit(n)

  /** The keyed state row, read with one plain JDBC query. */
  override def loadRouterState(): RouterState = withConnection { conn =>
    if (!tableExists(conn, stateTable)) RouterState()
    else Using.resource(conn.prepareStatement(
        s"SELECT ${TelemetryStore.StateColumns.map(quote).mkString(", ")} " +
        s"FROM $stateTable WHERE ${quote("key")} = ?")) { st =>
      st.setString(1, TelemetryStore.StateKey)
      Using.resource(st.executeQuery()) { rs =>
        if (!rs.next()) RouterState()
        else RouterState(rs.getDouble(1), rs.getDouble(2), rs.getDouble(3), rs.getDouble(4))
      }
    }
  }

  override def saveRouterState(state: RouterState): Unit = {
    import spark.implicits._
    Seq((state.weightVector, state.weightKeyword, state.weightHybrid, state.lr))
      .toDF(TelemetryStore.StateColumns: _*)
      .withColumn("key", lit(TelemetryStore.StateKey))
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
