package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Bridge into `private[spark]` listener-bus internals: the SQL
  * table-stream route publishes stream cursors from a
  * QueryExecutionListener (commit-on-success), and those listeners fire
  * on the ASYNC listener bus — a statement issued immediately after a
  * successful consume must first drain the bus so the publication is
  * visible (the same discipline Spark's own tests use via
  * `waitUntilEmpty`). Task-metric measurements drain it for the same
  * reason: task-end events arrive after the action returns. */
object ListenerShim {

  /** Drain the shared listener bus, bounded. A timeout is returned as
    * false, never thrown — cursor publication is monotone, so a missed
    * flush only re-serves a window (at-least-once), it cannot corrupt. */
  def flush(sc: SparkContext, timeoutMillis: Long = 30000L): Boolean =
    try {
      sc.listenerBus.waitUntilEmpty(timeoutMillis)
      true
    } catch {
      case _: java.util.concurrent.TimeoutException => false
    }

  /** Run `body` and sum `metric` over every task that ends while it runs,
    * read after the bus is drained: e.g. input records to bound a scan,
    * spilled bytes to show memory pressure engaged. */
  def sumTaskMetric[A](sc: SparkContext, metric: TaskMetrics => Long)(
      body: => A): (A, Long) = {
    val sum = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) sum.addAndGet(metric(te.taskMetrics)): Unit
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      flush(sc): Unit
      (r, sum.get())
    } finally sc.removeSparkListener(listener)
  }
}
