package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts: specs use it to pin
  * a path to zero Spark actions. The listener bus is drained before and
  * after the block, so jobs started earlier are not counted and the
  * block's own are. Counts every job of the context, so run nothing else
  * on it concurrently. */
object JobCounter {
  def jobsOf[A](sc: SparkContext)(f: => A): (A, Long) = {
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graftspecglue.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.graftspecglue.drainListenerBus(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
