package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query profile for perf iteration, one pass per query through the
  * noop sink: warm runs, timed runs (per-run times and median), a
  * per-job line for the last timed run (wall time, task count, total task
  * time, description — the stage-level view the disabled UI would give),
  * and optionally the final plan.
  *
  * `runMain graft.tools.Profile <queries> [runs] [warm] [planDir]`
  *  - `queries`: comma-separated `SparkEntry.queries` names, or `headline`
  *    for every headline query;
  *  - `runs` timed runs (default 5) after `warm` untimed ones (default 3:
  *    one warm run under-warms JIT/codegen-heavy lifecycle slots);
  *  - `planDir`: write each query's `.explain("formatted")` to
  *    `<planDir>/<name>.txt`. For lifecycle slots the run function
  *    executes its builds/ingests eagerly and the plan is the final read.
  *
  * Input: the scale directory `$SPARK_GRAFT_SF_DIR` (required). Session:
  * `local[$SPARK_GRAFT_CPUS]` with as many shuffle partitions, defaulting
  * to the host's processor count.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <q1,q2,...|headline> [runs] [warm] [planDir]")
    val runs = args.lift(1).fold(5)(_.toInt)
    require(runs >= 1, s"runs must be >= 1 (got $runs)")
    val warm = args.lift(2).fold(3)(_.toInt)
    val planDir = args.lift(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the input scale directory"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = graft.engine.Sessions.builder(master = s"local[$cpus]",
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args(0) == "headline") graft.SparkEntry.headlineQueries.map(_.name)
      else args(0).split(',').toSeq
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      try profile(spark, name, sfDir, runs, warm, planDir)
      catch {
        case e: Throwable => System.err.println(s"[profile] $name FAILED: $e")
      }
    }
    spark.stop()
  }

  private def profile(spark: org.apache.spark.sql.SparkSession, name: String,
                      sfDir: String, runs: Int, warm: Int,
                      planDir: Option[String]): Unit = {
    val q = graft.SparkEntry.queries(name)
    def exec(): Double = {
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to warm).foreach { i =>
      System.err.println(f"[profile-warm] $name pass $i: ${exec()}%.2f")
    }
    val ts = (1 to runs - 1).map(_ => exec())
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    val last = try exec() finally {
      Thread.sleep(500) // the listener bus is asynchronous
      spark.sparkContext.removeSparkListener(jobs)
    }
    val all = ts :+ last
    println(f"[profile] $name: ${all.map(t => f"$t%.2f").mkString(" ")} " +
      f"median=${all.sorted.apply(all.size / 2)}%.2f")
    jobs.lines.foreach(l => println(s"[job] $l"))
    println(s"[job] $name: ${jobs.lines.size} jobs in the last run")
    planDir.foreach { d =>
      val plan = q(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(d, s"$name.txt"), plan)
    }
  }

  /** One line per finished job: wall time, its stages' task count and
    * total executor run time, and the job description.
    */
  private class JobLog extends SparkListener {
    private val started = mutable.Map[Int, (Long, String, Seq[Int])]()
    private val stageTasks = mutable.Map[Int, (Int, Long)]() // stageId -> (tasks, taskTimeMs)
    val lines = mutable.ArrayBuffer[String]()

    override def onJobStart(js: SparkListenerJobStart): Unit =
      started(js.jobId) = (System.nanoTime(),
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""),
        js.stageIds.map(_.toInt))

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      stageTasks(sc.stageInfo.stageId) =
        (sc.stageInfo.numTasks, sc.stageInfo.taskMetrics.executorRunTime)

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      started.get(je.jobId).foreach { case (t0, desc, stages) =>
        val wall = (System.nanoTime() - t0) / 1e9
        val (nt, tt) = stages.flatMap(stageTasks.get).foldLeft((0, 0L)) {
          case ((a, b), (c, d)) => (a + c, b + d)
        }
        lines += f"${je.jobId}%4d $wall%7.2fs tasks=$nt%4d taskTime=${tt / 1000.0}%8.1fs  $desc"
      }
  }
}
