package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/**
 * Test-only bridge: the number of Spark jobs a body starts on the
 * calling thread. Jobs are matched by a job tag the body's thread
 * carries, and the listener bus is drained before the count is read, so
 * the count is exact once the body returns; `listenerBus` is
 * `private[spark]`, hence this package.
 */
object GraftJobProbe {
  def jobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val tag = s"graft-job-probe-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag)))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, n.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
