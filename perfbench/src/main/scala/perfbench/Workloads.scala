package perfbench

import java.util.zip.GZIPInputStream

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AggIndex, JoinView}
import graft.pipeline.{PathConfig, TableTransformer}
import graft.queries.Query
import graft.sources.UnloadCsv

/** What a workload runs against: the live session, its generated inputs
  * and a scratch directory, plus the tracer every call goes through.
  */
final class Ctx(val spark: SparkSession, val in: String, val work: String, val seed: Long,
                val cores: Int, val inBytes: Map[String, Long], val tr: Tracer) {
  val opLatencies = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  /** Per-layer facts a workload measures directly (file counts, bytes). */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  /** One unit operation: timed, counted, and failures kept out of the
    * latency sample.
    */
  def op(name: String)(f: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tr.span(name, "op")(f)
      opLatencies += (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] op $name failed: $e")
    }
  }

  def shuffled[A](xs: Seq[A]): Seq[A] = new scala.util.Random(seed).shuffle(xs)
}

/** A workload is a seeded, endless sequence of unit operations. [[Main]]
  * calls [[prepare]] once, as the end of set-up, then [[step]] for
  * i = 0, 1, ... until the run's time is up and at least [[minSteps]] have
  * run, then (traced runs only) [[finish]], and [[check]].
  */
trait Workload {
  def name: String
  /** Scale factor of the generated inputs (TPC-H convention). */
  def sf: Double
  def tables: Seq[String]
  def minSteps: Int = 1
  /** Fixtures and warm-up; only fixture calls go through the tracer. */
  def prepare(c: Ctx): Unit
  def step(c: Ctx, i: Int): Unit
  /** Maintenance after the timed steps, run in traced runs only, for the
    * per-layer numbers.
    */
  def finish(c: Ctx): Unit = ()
  def bytesIn(c: Ctx): Long = c.inBytes.values.sum
  def bytesOut(c: Ctx): Long
  /** Correctness checks, run after the timed region: (name, passed). */
  def check(c: Ctx): Seq[(String, Boolean)]
}

object Workloads {
  val FleetTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "typed_mix")

  /** The short-query mix: relational, temporal, event and dedup/text
    * families, each query with a DuckDB oracle that stays cheap at the
    * mix's scale (d_minhash_lsh's all-pairs oracle alone takes ~17 s).
    */
  val QueryNames: Seq[String] = Seq("q5_agg", "q7_join", "q8_join3_agg", "q38_scd2_merge",
    "w_session_window", "q26_asof_join", "d_ngram_jaccard", "d_simhash_weighted", "t_decontam")

  def byName(name: String, sf: Option[Double]): Workload = name match {
    case "convert_lineitem" => new Convert(name, Seq("lineitem"), sf.getOrElse(0.01))
    case "convert_fleet" => new Convert(name, FleetTables, sf.getOrElse(0.01))
    case "query_mix" => new QueryMix(sf.getOrElse(0.001))
    case "cdc_pipeline" => new CdcPipeline(sf.getOrElse(0.001))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-independent content digest: row count plus the sum of a 64-bit
    * hash of each row's canonical text (every column cast to string, NULL
    * distinct from any string).
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val canonical = concat_ws("\u0001",
      df.columns.toSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(count(lit(1)), sum(xxhash64(canonical).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}

/** The paper's copy: export → convert → createTable, one op per table
  * copy, cycling through `copied` in seeded order, at least three copies
  * and one of each table. The warm-up copies `typed_mix`, which is checked
  * cell for cell afterwards.
  */
final class Convert(val name: String, copied: Seq[String], val sf: Double) extends Workload {
  val tables: Seq[String] = (copied :+ "typed_mix").distinct
  private val schemaName = "bench"
  private def paths(c: Ctx, t: String) = PathConfig(s"${c.work}/copy/$t")
  private def transformer(c: Ctx, t: String) =
    TableTransformer.fromParquet(c.spark, s"${c.in}/$t.parquet", paths(c, t), schemaName, t)
  private var order: Seq[String] = Nil

  override def minSteps: Int = math.max(3, copied.size)

  def prepare(c: Ctx): Unit = {
    order = c.shuffled(copied)
    transformer(c, "typed_mix").transform()
  }

  def step(c: Ctx, i: Int): Unit = {
    val t = order(i % order.size)
    val tt = transformer(c, t)
    c.op(s"copy.$t") {
      c.tr.span("pipeline.export")(tt.exportToCsv())
      c.tr.span("pipeline.convert")(tt.convertToParquet())
      c.tr.span("pipeline.create")(tt.createTable())
    }
    if (c.tr.enabled)
      c.tr.span("sources.manifest", "probe")(
        UnloadCsv.manifestEntries(c.spark, paths(c, t).manifestPath))
  }

  override def bytesIn(c: Ctx): Long = copied.map(c.inBytes).sum
  def bytesOut(c: Ctx): Long = copied.map(t => Files.bytes(paths(c, t).spectrumDir)).sum

  /** CSV parts and Parquet files of the last copy of each table. */
  private def layerFacts(c: Ctx): Unit = {
    val parts = copied.flatMap(t => UnloadCsv.listCsvParts(c.spark, paths(c, t).csvDir))
    val local = parts.map(p => new java.io.File(new java.net.URI(p)))
    c.facts("sources.csv_files") = local.size
    c.facts("sources.csv_nonempty_files") = local.count { f =>
      val in = new GZIPInputStream(new java.io.FileInputStream(f))
      try in.read() >= 0 finally in.close()
    }
    c.facts("sources.csv_bytes") = local.map(_.length).sum
    c.facts("sinks.parquet_files") = copied.map(t => Files.count(paths(c, t).spectrumDir)).sum
    c.facts("sinks.parquet_bytes") = bytesOut(c)
  }

  def check(c: Ctx): Seq[(String, Boolean)] = {
    layerFacts(c)
    tables.flatMap { t =>
      val src = c.spark.read.parquet(s"${c.in}/$t.parquet")
      val out = c.spark.table(s"$schemaName.$t")
      val same = Workloads.digest(src) == Workloads.digest(out) &&
        out.columns.toSeq == src.columns.toSeq
      (s"copy.$t.digest" -> same) +:
        (if (t == "typed_mix") Seq(s"copy.$t.cells" -> cellsMatch(src, out)) else Nil)
    }
  }

  /** Cell for cell, in id order, with each output type as the sink maps it
    * (naive timestamps come back as TIMESTAMP, everything else unchanged).
    */
  private def cellsMatch(src: DataFrame, out: DataFrame): Boolean = {
    val typesOk = src.schema.fields.zip(out.schema.fields).forall { case (s, o) =>
      o.dataType == (if (s.dataType == TimestampNTZType) TimestampType else s.dataType)
    }
    def cells(df: DataFrame) =
      df.orderBy("id").select(df.columns.toSeq.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq)
    typesOk && cells(src).sameElements(cells(out))
  }
}

/** Short catalog queries through the noop sink, one op per query, at
  * least one whole pass over the mix after one warm-up pass, in set-up,
  * that writes the results the checks compare. The order is fixed, not
  * seeded: which query runs last decides what the session still holds
  * (its broadcasts) and the JIT's path through the mix, and both should
  * vary with the engine, not the seed. The seed varies the data.
  */
final class QueryMix(val sf: Double) extends Workload {
  val name = "query_mix"
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents")
  private lazy val queries: Seq[Query] = Workloads.QueryNames.map(n =>
    graft.SparkEntry.catalog.find(_.name == n)
      .getOrElse(throw new IllegalStateException(s"query $n is not in the catalog")))
  private def results(c: Ctx) = s"${c.work}/results"

  private val written = mutable.LinkedHashMap.empty[String, Boolean]

  override def minSteps: Int = queries.size

  /** The warm-up pass writes each result, and the DuckDB oracles, for the
    * checks; the comparison itself runs in the launcher, which has DuckDB.
    */
  def prepare(c: Ctx): Unit = {
    for (q <- queries)
      written(s"query.${q.name}.written") =
        try {
          q.run(c.spark, c.in).coalesce(1).write.mode("overwrite")
            .parquet(s"${results(c)}/${q.name}")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] result of ${q.name} failed: $e"); false }
    val oracle = queries.map(q => Json.str(q.name) + ": " + Json.str(q.oracle.getOrElse("")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${c.work}/oracle_sql.json"),
      oracle.mkString("{", ", ", "}"))
  }

  def step(c: Ctx, i: Int): Unit = {
    val q = queries(i % queries.size)
    c.op(s"query.${q.name}")(c.tr.span(s"queries.${q.name}")(
      q.run(c.spark, c.in).write.format("noop").mode("overwrite").save()))
  }

  def bytesOut(c: Ctx): Long = Files.bytes(results(c))

  def check(c: Ctx): Seq[(String, Boolean)] = written.toSeq
}

/** The composed CDC pipeline of `e_pipeline_cdc` over orders: a CDC
  * JoinView (orders ⋈ priority) feeding a day × priority AggIndex rollup.
  * The fixture (both builds) and batch 1 are prepared before the timed
  * body; each op is one further seeded change batch of the same shape,
  * mixing value updates, deletes on both sides, and priority moves that
  * shift rows between rollup groups (and re-insert keys earlier batches
  * deleted). At least two batches run, so that the batch latency is a
  * median of two samples even when one batch outlasts the run's seconds.
  * Traced runs then fold the view and read the rollup.
  */
final class CdcPipeline(val sf: Double) extends Workload {
  val name = "cdc_pipeline"
  val tables: Seq[String] = Seq("orders")
  private var batches = 0

  override def minSteps: Int = 2

  private def jv(c: Ctx) = s"${c.work}/cdc/jv"
  private def agg(c: Ctx) = s"${c.work}/cdc/agg"
  private def orders(c: Ctx) = c.spark.read.parquet(s"${c.in}/orders.parquet")
  private def a0(c: Ctx) = orders(c).select(col("o_orderkey").as("key"),
    col("o_orderdate").as("ts"), col("o_custkey").as("user_id"), col("o_totalprice").as("value"))
  private def b0(c: Ctx) = orders(c).select(col("o_orderkey").as("key"),
    col("o_orderpriority").as("prio"))
  private def view(c: Ctx, n: Int) = c.spark.read.parquet(s"${jv(c)}/view")
    .filter(col("batch") === n).withColumnRenamed("prio", "event_type")

  /** About 1 key in `m` for change `kind` of batch `n`. */
  private def sel(c: Ctx, n: Int, kind: Int, m: Int): Column =
    pmod(xxhash64(col("key"), lit(c.seed), lit(n), lit(kind)), lit(m.toLong)) === 0
  private def upd(c: Ctx, n: Int) = sel(c, n, 1, 20)
  private def delA(c: Ctx, n: Int) = sel(c, n, 2, 40) && !upd(c, n)
  private def moved(c: Ctx, n: Int) = sel(c, n, 3, 20)
  private def delB(c: Ctx, n: Int) = sel(c, n, 4, 40) && !moved(c, n)
  private def movedPrio(n: Int) = s"P${n % 4}"

  private def applyBatch(c: Ctx, n: Int, tr: Tracer): Unit = {
    val (a, b) = (a0(c), b0(c))
    tr.span("operators.jv_ingest")(JoinView.ingestCdc(
      a.filter(upd(c, n)).withColumn("value", col("value") + n),
      b.filter(moved(c, n)).select(col("key"), lit(movedPrio(n)).as("prio")),
      "key", jv(c), batch = n,
      delA = a.filter(delA(c, n)).select("key"), delB = b.filter(delB(c, n)).select("key")))
    tr.span("operators.agg_ingest")(AggIndex.ingestCdc(
      view(c, n).select("event_type", "ts", "value", "user_id", "sgn"), null, agg(c),
      batch = n, stateForDays = days => JoinView.mergedForDays(c.spark, jv(c), days)
        .select(col("prio").as("event_type"), col("ts"), col("value"), col("user_id"))))
    batches = n
  }

  def prepare(c: Ctx): Unit = {
    c.tr.span("operators.jv_build")(
      JoinView.build(a0(c), b0(c), "key", jv(c), cdc = true, dayCol = "ts"))
    c.tr.span("operators.agg_build")(AggIndex.build(
      view(c, 0).select("event_type", "ts", "value", "user_id"), agg(c), cdc = true))
    applyBatch(c, 1, new Tracer(c.spark, false))
  }

  def step(c: Ctx, i: Int): Unit = c.op(s"cdc.batch${i + 2}")(applyBatch(c, i + 2, c.tr))

  override def finish(c: Ctx): Unit = {
    c.facts("operators.files_written") = Files.count(s"${c.work}/cdc")
    c.facts("operators.bytes_written") = Files.bytes(s"${c.work}/cdc")
    c.tr.span("operators.fold")(JoinView.foldCdc(c.spark, jv(c)))
    c.tr.span("operators.merged")(
      AggIndex.merged(c.spark, agg(c)).write.format("noop").mode("overwrite").save())
  }

  def bytesOut(c: Ctx): Long = Files.bytes(s"${c.work}/cdc")

  /** The `e_pipeline_cdc` gate: the maintained rollup equals a one-shot
    * rollup of the sources with every batch applied (count, min, max and
    * the 2-decimal sum exactly; the distinct-user sketch within 5%).
    */
  def check(c: Ctx): Seq[(String, Boolean)] = {
    // a side's row is decided by the LAST batch touching its key: code 2n
    // for an upsert in batch n, 2n + 1 for a delete, NULL when untouched
    def last(up: Int => Column, del: Int => Column): Column =
      greatest((1 to batches).map(n => when(del(n), lit(2 * n + 1)).when(up(n), lit(2 * n))): _*)
    val a = a0(c).withColumn("la", last(upd(c, _), delA(c, _)))
      .filter(col("la").isNull || col("la") % 2 === 0)
      .withColumn("value", col("value") + coalesce(col("la") / 2, lit(0)).cast("int"))
    val b = b0(c).withColumn("lb", last(moved(c, _), delB(c, _)))
      .filter(col("lb").isNull || col("lb") % 2 === 0)
      .withColumn("prio", (1 to batches).foldLeft(col("prio")) { (p, n) =>
        when(col("lb") === 2 * n, lit(movedPrio(n))).otherwise(p)
      })
    val expected = a.join(b, Seq("key"))
      .groupBy(col("prio").as("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("e_cnt"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("e_sum"),
        min("value").as("e_min"), max("value").as("e_max"),
        countDistinct("user_id").as("e_users"))
    val got = AggIndex.merged(c.spark, agg(c))
      .select(col("event_type"), col("day"), col("cnt"),
        round(col("sum_v"), 2).cast("double").as("sum_v"), col("min_v"), col("max_v"),
        col("users"))
    val bad = got.join(expected, Seq("event_type", "day"), "full_outer").filter(
      col("cnt").isNull || col("e_cnt").isNull || col("cnt") =!= col("e_cnt") ||
        col("sum_v") =!= col("e_sum") || col("min_v") =!= col("e_min") ||
        col("max_v") =!= col("e_max") ||
        abs(col("users") - col("e_users")).cast("double") >
          col("e_users").cast("double") * 0.05).count()
    Seq("cdc.rollup_matches_oneshot" -> (bad == 0 && expected.count() > 0))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
