package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.router.RouterState
import graft.telemetry.TelemetryStore

/** Benchmark-side SparkListener: cumulative job/stage/task counts,
  * shuffle traffic, executor CPU and scan input records. Callers take a
  * `snapshot` before and after the span they attribute. */
final class SparkCounters extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val cpuNs = new AtomicLong
  private val inputRecords = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      cpuNs.addAndGet(m.executorCpuTime)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot(sc: org.apache.spark.SparkContext): SparkCounters.Snap = {
    org.apache.spark.perfbenchglue.drainListenerBus(sc)
    SparkCounters.Snap(jobs.get, stages.get, tasks.get, shuffleBytes.get, cpuNs.get,
      inputRecords.get)
  }
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long,
      cpuNs: Long, inputRecords: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      shuffleBytes - o.shuffleBytes, cpuNs - o.cpuNs, inputRecords - o.inputRecords)
  }

  /** Register a counter; `snapshot` drains the listener bus first so the
    * task-end events of a finished action are counted. */
  def attach(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Spark storage memory still held by cached blocks, in MB, once
    * unreferenced request-scoped blocks (checkpoints the ContextCleaner
    * reclaims after GC) are gone: what remains is reachable caching. */
  def heldMb(spark: SparkSession): Double = {
    def mb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    var prev = -1.0
    var spins = 0
    while (spins < 20 && mb != prev) {
      prev = mb
      System.gc()
      Thread.sleep(200)
      spins += 1
    }
    mb
  }
}

/** Timing decorator over a real TelemetryStore: records the wall time of
  * each call, then delegates unchanged. */
final class TimingTelemetryStore(underlying: TelemetryStore) extends TelemetryStore {
  var logNs = 0L
  var stateLoadNs = 0L

  private def timed[A](add: Long => Unit)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally add(System.nanoTime() - t0)
  }

  override def logRuns(runs: DataFrame): Unit = timed(logNs += _)(underlying.logRuns(runs))
  override def loadRouterState(): RouterState = timed(stateLoadNs += _)(underlying.loadRouterState())
  override def saveRouterState(state: RouterState): Unit = underlying.saveRouterState(state)

  def reset(): Unit = { logNs = 0; stateLoadNs = 0 }
}

object Clock {
  def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }
}
