package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Counts the Spark jobs a block starts, for job-count pins. The block runs
  * in a job group of its own, which threads it starts inherit, and jobs of
  * that group count. A streaming query runs each trigger under a job group
  * of its own (its run id), so the jobs of every query the block starts
  * count too: they carry the query's id as a local property, and
  * `onQueryStarted` runs synchronously from `start()`, before the query's
  * first job. The listener bus is asynchronous, and its drain is
  * package-private to `org.apache.spark`.
  */
object JobCount {
  def of(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val queries = ConcurrentHashMap.newKeySet[String]()
    val jobs = new AtomicInteger
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = queries.add(e.id.toString)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group ||
              Option(p.getProperty(StreamExecution.QUERY_ID_KEY)).exists(queries.contains)))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    spark.streams.addListener(streams)
    sc.setJobGroup(group, "job count")
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      jobs.get
    } finally {
      sc.clearJobGroup()
      spark.streams.removeListener(streams)
      sc.removeSparkListener(listener)
    }
  }
}
