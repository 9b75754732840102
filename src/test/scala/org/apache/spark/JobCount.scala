package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches from this thread (its job tag
  * rides every job it starts, broadcast and AQE stage jobs included).
  * The listener bus is `private[spark]`, hence this shim in Spark's
  * package: the count is read only after the bus has delivered every
  * event. */
object JobCount {
  def apply[T](sc: SparkContext)(f: => T): (T, Int) = {
    val tag = s"jobcount-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag))) n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val v = f
      sc.listenerBus.waitUntilEmpty()
      (v, n.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
