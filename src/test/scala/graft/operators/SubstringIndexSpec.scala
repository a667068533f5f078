package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The persisted window-triple lifecycle: kernel each batch once, probe
  * duplicated spans from the stored table without re-kerneling anything.
  */
class SubstringIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val W = 20

  /** Brute-force twin computed straight from text: spans of batch-`n`
    * docs whose windows occur in >1 distinct doc among batches <= n.
    */
  private def bruteSpans(docs: DataFrame, batchOf: org.apache.spark.sql.Column,
                         batch: Int): DataFrame = {
    val win = SubstringIndex.windows(docs, W).withColumn("batch", batchOf)
      .filter(col("batch") <= batch)
    val dup = win.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("h")
    val wn = Window.partitionBy("doc_id").orderBy("off")
    win.filter(col("batch") === batch).join(dup, "h").select("doc_id", "off")
      .withColumn("grp", col("off") - row_number().over(wn))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("off").cast("long").as("span_start"),
        (max("off") + (W - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  test("two-batch lifecycle matches the brute-force span relation") {
    val path = Files.createTempDirectory("graft_subidx_spec_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val batchOf = pmod(col("doc_id"), lit(3)).cast("int")

    SubstringIndex.build(docs.filter(batchOf === 0), path, W)
    SubstringIndex.ingest(docs.filter(batchOf === 1), path, batch = 1, W)
    assert(SubstringIndex.probe(spark, path, batch = 1, W)
        .orderBy("doc_id", "span_start").collect().toSeq ==
      bruteSpans(docs, batchOf, 1).orderBy("doc_id", "span_start").collect().toSeq)

    // batch 2 sees base + batch 1 + itself from the index
    SubstringIndex.ingest(docs.filter(batchOf === 2), path, batch = 2, W)
    val probe2 = SubstringIndex.probe(spark, path, batch = 2, W)
    assert(probe2.orderBy("doc_id", "span_start").collect().toSeq ==
      bruteSpans(docs, batchOf, 2).orderBy("doc_id", "span_start").collect().toSeq)
    assert(probe2.count() > 0,
      "test corpus produced no cross-batch duplicated spans; slice differently")

    // replay safety: re-appending batch 2 (at-least-once) changes nothing
    SubstringIndex.ingest(docs.filter(batchOf === 2), path, batch = 2, W)
    assert(SubstringIndex.probe(spark, path, batch = 2, W)
        .orderBy("doc_id", "span_start").collect().toSeq ==
      probe2.orderBy("doc_id", "span_start").collect().toSeq)
  }

  test("streamed ingest (st_substring_ingest path) interoperates with batch probe") {
    val base = Files.createTempDirectory("graft_subidx_stream_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val batchOf = pmod(col("doc_id"), lit(3)).cast("int")
    SubstringIndex.build(docs.filter(batchOf === 0), s"$base/idx", W)

    val streamed = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .filter(pmod(col("doc_id"), lit(3)).cast("int") === 1)
    val q = SubstringIndex.ingestStream(streamed, s"$base/idx", s"$base/cp", W)
    try q.processAllAvailable() finally q.stop()

    // the streamed delta landed as batch 1 (base continued from the stored
    // batch 0), and probe answers the incremental question from the
    // mixed-provenance index exactly as from an all-batch-API one
    assert(SubstringIndex.probe(spark, s"$base/idx", batch = 1, W)
        .orderBy("doc_id", "span_start").collect().toSeq ==
      bruteSpans(docs, batchOf, 1).orderBy("doc_id", "span_start").collect().toSeq)
  }

  test("streamed probe equals the batch ingest+probe sequence over the same slices") {
    val base = Files.createTempDirectory("graft_subidx_probe_stream_").toString
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val batchOf = pmod(col("doc_id"), lit(3)).cast("int")

    def oneFile(df: DataFrame, dest: String, mtime: Long): Unit =
      graft.StreamFixtures.oneFile(df, dest, mtime)
    oneFile(docs.filter(batchOf === 0), s"$base/src/d0.parquet", 1000000000000L)
    oneFile(docs.filter(batchOf === 1), s"$base/src/d1.parquet", 1000000060000L)
    oneFile(docs.filter(batchOf === 2), s"$base/src/d2.parquet", 1000000120000L)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val jobs = JobCount.of(spark) {
      val q = SubstringIndex.probeStream(streamed, s"$base/idx", s"$base/out", s"$base/cp", W)
      try q.processAllAvailable() finally q.stop()
    }
    assert(jobs == 24, s"the streamed probe's start and three triggers ran $jobs Spark jobs, not 24")

    val expected = (0 to 2).map(b =>
        bruteSpans(docs, batchOf, b).withColumn("batch", lit(b)))
      .reduce(_ unionAll _)
    assert(spark.read.parquet(s"$base/out")
        .select("doc_id", "span_start", "span_end", "n_windows", "batch")
        .orderBy("doc_id", "span_start", "batch").collect().toSeq ==
      expected.select("doc_id", "span_start", "span_end", "n_windows", "batch")
        .orderBy("doc_id", "span_start", "batch").collect().toSeq)
    assert(spark.read.parquet(s"$base/out").filter(col("batch") > 0).count() > 0,
      "no spans detected past the first increment; slice differently")
  }

  test("probe plan is kernel-free: no rolling hash, no text column read") {
    val path = Files.createTempDirectory("graft_subidx_plan_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    SubstringIndex.build(docs.filter(col("doc_id") % 2 === 0), path, W)
    SubstringIndex.ingest(docs.filter(col("doc_id") % 2 === 1), path, batch = 1, W)
    val plan = SubstringIndex.probe(spark, path, batch = 1, W)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rolling_window_hash"),
      s"probe must not re-kernel any corpus slice:\n$plan")
    assert(!plan.contains("text"),
      s"probe must never read document text:\n$plan")
  }

  test("d_substring_index query plan reads the index, not the kernel") {
    val plan = graft.SparkEntry.queries("d_substring_index")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("rolling_window_hash"),
      s"query plan must be kernel-free (index-only):\n$plan")
  }

  test("forget: tombstoned docs' spans vanish and stop witnessing") {
    val base = Files.createTempDirectory("graft_sub_forget_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val batchOf = pmod(col("doc_id"), lit(2)).cast("int")
    SubstringIndex.build(docs.filter(batchOf === 0), s"$base/idx", W)
    SubstringIndex.ingest(docs.filter(batchOf === 1), s"$base/idx", batch = 1, W)
    val gone = docs.filter(col("doc_id") % 17 === 0).select("doc_id")
    SubstringIndex.forget(spark, s"$base/idx", gone)
    val got = SubstringIndex.probe(spark, s"$base/idx", batch = 1, W)
      .orderBy("doc_id", "span_start").collect().toSeq
    // parity with an index that never ingested them
    val twin = Files.createTempDirectory("graft_sub_forget_twin_").toString
    val kept = docs.join(gone, Seq("doc_id"), "left_anti")
    SubstringIndex.build(kept.filter(batchOf === 0), twin, W)
    SubstringIndex.ingest(kept.filter(batchOf === 1), twin, batch = 1, W)
    val want = SubstringIndex.probe(spark, twin, batch = 1, W)
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(got == want, "forget must equal never-ingested")
  }
}
