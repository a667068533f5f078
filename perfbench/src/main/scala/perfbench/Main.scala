package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client, one operation at a time, on
  * `local[<cores>]`.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE [--sf X]
  * }}}
  *
  * Set-up is session start and input generation, run [[SetupReps]] times,
  * then the workload's fixtures and warm-up, run once: `setup_s` is the
  * median of the first part plus the second. The timed body runs the
  * workload's unit operations until `S` seconds have elapsed and the
  * workload's minimum count ran. Traced runs then run the workload's
  * maintenance and write their spans to `DIR/spans.jsonl`; correctness
  * checks run after the timed body. The result, with every metric, goes to
  * FILE as JSON.
  */
object Main {

  private val SetupReps = 3

  private val CounterGroups: Seq[(String, Span => Boolean)] = Seq(
    "pipeline.export" -> (_.name == "pipeline.export"),
    "pipeline.convert" -> (_.name == "pipeline.convert"),
    "pipeline.create" -> (_.name == "pipeline.create"),
    "queries" -> (_.name.startsWith("queries.")),
    "operators.build" -> (s => s.name == "operators.jv_build" || s.name == "operators.agg_build"),
    "operators.jv_ingest" -> (_.name == "operators.jv_ingest"),
    "operators.agg_ingest" -> (_.name == "operators.agg_ingest"),
    "operators.fold" -> (_.name == "operators.fold"),
    "operators.merged" -> (_.name == "operators.merged"),
    "op" -> (_.kind == "op"))

  private val TimedSpans: Seq[String] = Seq("pipeline.export", "pipeline.convert",
    "pipeline.create", "sources.manifest") ++
    Workloads.QueryNames.map(q => s"queries.$q") ++
    Seq("jv_build", "agg_build", "jv_ingest", "agg_ingest", "fold", "merged").map("operators." + _)

  private val FactNames: Seq[String] = Seq("sources.csv_files", "sources.csv_nonempty_files",
    "sources.csv_bytes", "sinks.parquet_files", "sinks.parquet_bytes",
    "operators.files_written", "operators.bytes_written")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opts("workload"), opts.get("sf").map(_.toDouble))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val started = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2f s  $what")

    def session(): SparkSession = {
      val s = graft.engine.Sessions.builder(s"local[$cores]", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // set-up, first part, repeated: restart the session, regenerate the inputs
    var spark: SparkSession = null
    var inDir = ""
    var inBytes = Map.empty[String, Long]
    val setupS, sessionS = mutable.ArrayBuffer.empty[Double]
    for (r <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session()
      sessionS += (System.nanoTime() - t0) / 1e9
      if (r > 1) Files.deleteTree(inDir)
      inDir = s"$work/in$r"
      inBytes = Gen.write(spark, inDir, wl.tables, wl.sf, seed)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    phase(s"session and inputs done: ${setupS.map(t => f"$t%.2f").mkString(" ")} s")

    val tr = new Tracer(spark, trace)
    val workDir = s"$work/run"
    val c = new Ctx(spark, inDir, workDir, seed, cores, inBytes, tr)
    val prepareS = timed(wl.prepare(c))
    phase(f"fixtures and warm-up done: $prepareS%.2f s")

    // the timed body: unit operations until the time is up
    val t0 = System.nanoTime()
    var i = 0
    while (i < wl.minSteps || (System.nanoTime() - t0) / 1e9 < seconds) {
      wl.step(c, i)
      i += 1
    }
    val bodyS = (System.nanoTime() - t0) / 1e9
    val retainedMb = Host.retainedHeapMb()
    val peakRssMb = Host.peakRssMb()
    val bytesOut = wl.bytesOut(c)
    phase(f"timed body done: $i ops in $bodyS%.2f s")
    if (trace) wl.finish(c)
    val checks = wl.check(c)
    tr.drain()
    phase("checks done")
    val sentinels = Sentinels.measure(spark, s"$work/sentinel", cores)

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupS.toSeq) + prepareS, "s"),
      "op_p50_s" -> (Stats.median(c.opLatencies.toSeq), "s"),
      "bytes_out_per_byte_in" -> (bytesOut.toDouble / wl.bytesIn(c), "ratio"))

    // per-layer: span times and counters are means per call of the layer,
    // the op group's per unit operation
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    layers("engine.session_s") = (Stats.median(sessionS.toSeq), "s")
    layers("setup.prepare_s") = (prepareS, "s")
    for (n <- TimedSpans) {
      val of = tr.spans.filter(_.name == n)
      layers(s"${n}_s") = (if (of.isEmpty) 0.0 else of.map(_.wallS).sum / of.size, "s")
    }
    for (n <- FactNames)
      layers(n) = (c.facts.getOrElse(n, 0.0), if (n.contains("bytes")) "B" else "count")
    if (trace) {
      for ((g, pred) <- CounterGroups) {
        val of = tr.spans.filter(pred).toSeq
        val per = math.max(1, of.size).toDouble
        val st = tr.stats(of, cores)
        layers(s"$g.jobs") = (st.jobs / per, "count")
        layers(s"$g.tasks") = (st.tasks / per, "count")
        layers(s"$g.task_s") = (st.taskS / per, "s")
        layers(s"$g.core_util") = (st.coreUtil, "ratio")
        layers(s"$g.driver_gap_s") = (st.driverGapS / per, "s")
        layers(s"$g.empty_task_ratio") = (st.emptyTaskRatio, "ratio")
        layers(s"$g.shuffle_bytes") = (st.shuffleBytes / per, "B")
        layers(s"$g.gc_s") = (st.gcS / per, "s")
      }
      layers("trace.op_p50_s") = e2e("op_p50_s")
      layers("trace.untraced_share") = (untracedShare(tr), "ratio")
    }
    val host = Host.info()
    layers("host.nproc") = (cores.toDouble, "count")
    layers("host.mem_total_mb") = (host("mem_total_mb"), "MB")
    layers("host.heap_mb") = (host("heap_mb"), "MB")
    layers("host.peak_rss_mb") = (peakRssMb, "MB")
    layers("host.retained_heap_mb") = (retainedMb, "MB")
    layers("sentinel.cpu_s") = (sentinels._1, "s")
    layers("sentinel.fs_s") = (sentinels._2, "s")

    if (trace) writeSpans(tr, s"$work/spans.jsonl")
    spark.stop()

    def metrics(m: Iterable[(String, (Double, String))]) = Json.obj(m.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val out = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "in_dir" -> Json.str(inDir),
      "work_dir" -> Json.str(workDir),
      "queries" -> (if (wl.name == "query_mix") Workloads.QueryNames.map(Json.str)
        else Nil).mkString("[", ", ", "]"),
      "checks" -> Json.obj(checks.map { case (k, ok) => k -> ok.toString }),
      "op_latencies_s" -> c.opLatencies.map(Json.num).mkString("[", ", ", "]"),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), out)
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Share of op wall time not covered by the op's layer spans. */
  private def untracedShare(tr: Tracer): Double = {
    val ops = tr.spans.filter(_.kind == "op")
    val children = tr.spans.groupBy(_.parent)
    val wall = ops.map(_.wallS).sum
    val covered = ops.map(o => children.getOrElse(o.id, Nil).map(_.wallS).sum).sum
    if (wall > 0) (wall - covered) / wall else 0.0
  }

  /** One JSON line per span, parent-linked, with its own Spark counters. */
  private def writeSpans(tr: Tracer, file: String): Unit = {
    val origin = tr.spans.map(_.startNs).min
    val cores = Runtime.getRuntime.availableProcessors()
    val lines = tr.spans.sortBy(_.startNs).map { s =>
      val st = tr.stats(Seq(s), cores)
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_s" -> Json.num((s.startNs - origin) / 1e9), "wall_s" -> Json.num(s.wallS),
        "ok" -> s.ok.toString, "jobs" -> st.jobs.toString, "tasks" -> st.tasks.toString,
        "task_s" -> Json.num(st.taskS), "driver_gap_s" -> Json.num(st.driverGapS)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file), lines.mkString("", "\n", "\n"))
  }
}

object Stats {
  /** Median (mean of the middle two for an even count); NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** Load sentinels: fixed work that no engine change touches, so a
  * contended host shows up as drift in these rather than in the metrics.
  */
object Sentinels {
  def measure(spark: SparkSession, dir: String, cores: Int): (Double, Double) = {
    def timed(f: => Unit): Double = {
      f // warm
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    val cpu = timed(spark.range(0, 20000000L, 1, cores).selectExpr("sum(id * 2 + 1) as s")
      .write.format("noop").mode("overwrite").save())
    val fs = timed {
      spark.range(0, 200000L, 1, cores).selectExpr("id", "cast(id % 97 as string) as v")
        .write.mode("overwrite").parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").write.format("noop").mode("overwrite").save()
    }
    Files.deleteTree(dir)
    (cpu, fs)
  }
}

object Host {
  /** Heap still in use after a full collection: what the engine keeps
    * alive (session state, caches, persisted frames), in MB.
    */
  def retainedHeapMb(): Double = {
    // a second collection after a pause catches what finalizers and the
    // context cleaner released in response to the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** A `key: <kB> kB` field of a /proc file, in MB. */
  private def status(file: String, key: String): Double = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** High-water resident set of this JVM, in MB. */
  def peakRssMb(): Double = status("/proc/self/status", "VmHWM")

  def info(): Map[String, Double] = Map(
    "mem_total_mb" -> status("/proc/meminfo", "MemTotal"),
    "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
}
