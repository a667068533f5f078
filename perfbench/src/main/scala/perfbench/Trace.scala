package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call. `parent` is the enclosing span's id (0 at the root). */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startNs: Long, endNs: Long, ok: Boolean) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task-level facts the listener keeps, keyed to the job group (= span id)
  * that submitted the task's job.
  */
final case class TaskRec(group: Long, launchMs: Long, finishMs: Long, runS: Double,
                         gcS: Double, recordsIn: Long, shuffleBytes: Long)

/** Spark counters per job group. Jobs submitted under `setJobGroup(id)`,
  * including those from threads the call spawns (local properties are
  * inherited), are attributed to the span with that id.
  */
final class Counters extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def groupOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobs.add(g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      tasks.add(TaskRec(stageGroup.getOrDefault(e.stageId, 0L), e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime / 1e3, m.jvmGCTime / 1e3, records,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
    }
  }
}

/** Span tracer. Disabled, it only takes wall times; enabled, it also tags
  * every Spark job with its span through the job group and keeps the
  * listener's counters for [[Tracer.stats]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[(Long, String)]()
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters: Counters = if (enabled) new Counters else null
  if (enabled) spark.sparkContext.addSparkListener(counters)

  private def enter(id: Long, name: String): Unit =
    if (enabled) spark.sparkContext.setJobGroup(Tracer.GroupPrefix + id, name)

  def span[A](name: String, kind: String = "layer")(f: => A): A = {
    val id = ids.incrementAndGet()
    val (parent, parentName) = stack.headOption.getOrElse((0L, ""))
    stack.push((id, name))
    enter(id, name)
    val t0 = System.nanoTime()
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      if (enabled) {
        if (parent == 0L) spark.sparkContext.clearJobGroup()
        else enter(parent, parentName)
      }
      spans.synchronized(spans += Span(id, parent, name, kind, t0, t1, ok))
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchbus.Bus.drain(spark.sparkContext)

  /** Counters over the given spans and all their descendants. */
  def stats(of: Seq[Span], cores: Int): Tracer.Stats = {
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] =
      id +: children.getOrElse(id, Nil).toSeq.flatMap(s => subtree(s.id))
    val byGroup = counters.tasks.asScala.toSeq.groupBy(_.group)
    val jobsByGroup = counters.jobs.asScala.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    var jobs, tasks, empty = 0L
    var taskS, gcS, shuffle, wall, gap = 0.0
    for (s <- of) {
      val ts = subtree(s.id).flatMap(g => byGroup.getOrElse(g, Nil))
      jobs += subtree(s.id).map(g => jobsByGroup.getOrElse(g, 0)).sum
      tasks += ts.size
      empty += ts.count(_.recordsIn == 0)
      taskS += ts.map(_.runS).sum
      gcS += ts.map(_.gcS).sum
      shuffle += ts.map(_.shuffleBytes).sum.toDouble
      wall += s.wallS
      gap += Tracer.uncovered(s, ts)
    }
    Tracer.Stats(jobs, tasks, taskS, if (wall > 0) taskS / (wall * cores) else 0.0, gap,
      if (tasks > 0) empty.toDouble / tasks else 0.0, shuffle, gcS)
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  final case class Stats(jobs: Long, tasks: Long, taskS: Double, coreUtil: Double,
                         driverGapS: Double, emptyTaskRatio: Double, shuffleBytes: Double,
                         gcS: Double)

  /** Wall seconds of `s` during which none of `ts` was running. */
  def uncovered(s: Span, ts: Seq[TaskRec]): Double = {
    val wallMs = (s.endNs - s.startNs) / 1e6
    // task times are wall-clock ms and span times monotonic ns, so only
    // lengths are compared: the span's wall minus its merged task intervals
    val iv = ts.map(t => (t.launchMs, t.finishMs)).sortBy(_._1)
    var covered = 0.0
    var cur: (Long, Long) = null
    for ((a, b) <- iv) {
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { covered += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) covered += cur._2 - cur._1
    math.max(0.0, wallMs - covered) / 1e3
  }
}
