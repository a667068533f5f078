package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The persisted MinHash band index: candidate generation must be
  * kernel-free from the stored table, recall must equal the inline banded
  * generator's, streamed ingest must interoperate with batch, and the
  * verified probe must equal the delta slice of the full exact pair set.
  */
class MinHashIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = Tables.load(spark, sfDir, "documents")

  test("candidates plan is kernel-free: no minhash kernel, no text read") {
    val base = Files.createTempDirectory("graft_mhidx_plan_").toString
    MinHashIndex.build(docs.filter(col("doc_id") % 2 === 0), base)
    MinHashIndex.ingest(docs.filter(col("doc_id") % 2 === 1), base, batch = 1)
    val plan = MinHashIndex.candidates(spark, base, batch = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("min_hash"),
      s"candidates must not re-kernel any corpus slice:\n$plan")
    assert(!plan.contains("text"),
      s"candidates must never read document text:\n$plan")
  }

  test("verified index probe equals the delta slice of the exact pair set") {
    val base = Files.createTempDirectory("graft_mhidx_par_").toString
    val isDelta = col("doc_id") % 3 === 0
    MinHashIndex.build(docs.filter(!isDelta), base)
    MinHashIndex.ingest(docs.filter(isDelta), base, batch = 1)
    // the full verified pair set from the committed inline query, sliced
    // to pairs involving a delta doc
    val full = graft.SparkEntry.queries("d_minhash_lsh")(spark, sfDir)
      .filter(col("id_a") % 3 === 0 || col("id_b") % 3 === 0)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cand = MinHashIndex.candidates(spark, base, batch = 1)
    // same verifier contract as the queries: exact 5-gram Jaccard >= 0.7
    val sides = cand
      .select(struct(col("id_a"), col("id_b")).as("pair"))
      .select(col("pair"), explode(array(col("pair.id_a"), col("pair.id_b"))).as("doc_id"))
    val sh = docs.select(col("doc_id"),
      graft.functions.CharNgrams.charNgrams(col("text"), 5).as("s"))
    val jac = size(array_intersect(col("sa"), col("sb"))).cast("double") /
      size(array_union(col("sa"), col("sb")))
    val got = sides.join(sh, "doc_id")
      .groupBy("pair")
      .agg(first(when(col("doc_id") === col("pair.id_a"), col("s")), ignoreNulls = true).as("sa"),
        first(when(col("doc_id") === col("pair.id_b"), col("s")), ignoreNulls = true).as("sb"))
      .filter(jac >= 0.7)
      .select(col("pair.id_a"), col("pair.id_b"), round(jac, 3).as("jac"))
      .orderBy("id_a", "id_b")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got == full)
  }

  test("streamed ingest interoperates with the batch twin") {
    val base = Files.createTempDirectory("graft_mhidx_stream_").toString
    MinHashIndex.build(docs.filter(col("doc_id") % 2 === 0), s"$base/idx")
    val streamed = spark.readStream.schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .filter(col("doc_id") % 2 === 1)
    val q = MinHashIndex.ingestStream(streamed, s"$base/idx", s"$base/cp")
    try q.processAllAvailable() finally q.stop()
    val twin = Files.createTempDirectory("graft_mhidx_twin_").toString
    MinHashIndex.build(docs.filter(col("doc_id") % 2 === 0), twin)
    MinHashIndex.ingest(docs.filter(col("doc_id") % 2 === 1), twin, batch = 1)
    assert(
      MinHashIndex.candidates(spark, s"$base/idx", 1).orderBy("id_a", "id_b")
        .collect().toSeq ==
        MinHashIndex.candidates(spark, twin, 1).orderBy("id_a", "id_b")
          .collect().toSeq)
  }

  test("streamed probe equals the batch ingest+verify sequence over the same slices") {
    val base = Files.createTempDirectory("graft_mhidx_probe_").toString
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    // both slices land before the stream starts (mtime-ordered, one per
    // trigger), so the pin counts only the stream's start and triggers
    graft.StreamFixtures.oneFile(half0.select("doc_id", "text"),
      s"$base/src/s0.parquet", 1000000000000L)
    graft.StreamFixtures.oneFile(half1.select("doc_id", "text"),
      s"$base/src/s1.parquet", 1000000060000L)
    val jobs = JobCount.of(spark) {
      val q = MinHashIndex.probeStream(streamed, s"$base/idx", s"$base/docs",
        s"$base/out", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
    }
    assert(jobs == 36, s"the streamed probe's start and two triggers ran $jobs Spark jobs, not 36")
    // batch twin: same slices through the batch API, probed per batch
    val twin = Files.createTempDirectory("graft_mhidx_probetwin_").toString
    MinHashIndex.build(half0, twin)
    MinHashIndex.ingest(half1, twin, batch = 1)
    val want = (MinHashIndex.verifyJaccard(
        MinHashIndex.candidates(spark, twin, 0), docs, MinHashIndex.Gram, 0.7)
      .unionByName(MinHashIndex.verifyJaccard(
        MinHashIndex.candidates(spark, twin, 1), docs, MinHashIndex.Gram, 0.7)))
      .orderBy("id_a", "id_b").collect().toSeq
    val got = spark.read.parquet(s"$base/out")
      .select("id_a", "id_b", "jac").dropDuplicates("id_a", "id_b")
      .orderBy("id_a", "id_b").collect().toSeq
    assert(got == want)
  }

  test("replayed index rows do not change candidates (duplicate-insensitive)") {
    val base = Files.createTempDirectory("graft_mhidx_replay_").toString
    MinHashIndex.build(docs.filter(col("doc_id") % 2 === 0), base)
    MinHashIndex.ingest(docs.filter(col("doc_id") % 2 === 1), base, batch = 1)
    val before = MinHashIndex.candidates(spark, base, 1)
      .orderBy("id_a", "id_b").collect().toSeq
    MinHashIndex.ingest(docs.filter(col("doc_id") % 2 === 1), base, batch = 1)
    assert(MinHashIndex.candidates(spark, base, 1)
      .orderBy("id_a", "id_b").collect().toSeq == before)
  }

  test("forget: tombstoned docs vanish from candidates (band index live view)") {
    val base = Files.createTempDirectory("graft_mh_forget_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    MinHashIndex.build(docs.filter(col("doc_id") % 2 === 0), s"$base/idx")
    MinHashIndex.ingest(docs.filter(col("doc_id") % 2 === 1), s"$base/idx", batch = 1)
    docs.select("doc_id", "text").write.parquet(s"$base/docs")
    val gone = docs.filter(col("doc_id") % 17 === 0).select("doc_id")
    val goneSet = gone.collect().map(_.getLong(0)).toSet
    MinHashIndex.forget(spark, s"$base/idx", s"$base/docs", gone)
    val cand = MinHashIndex.candidates(spark, s"$base/idx", batch = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.forall { case (a, b) => !goneSet(a) && !goneSet(b) },
      "forgotten docs must not appear in any candidate pair")
    // parity with a band index that never saw them
    val twin = Files.createTempDirectory("graft_mh_forget_twin_").toString
    val kept = docs.join(gone, Seq("doc_id"), "left_anti")
    MinHashIndex.build(kept.filter(col("doc_id") % 2 === 0), twin)
    MinHashIndex.ingest(kept.filter(col("doc_id") % 2 === 1), twin, batch = 1)
    val want = MinHashIndex.candidates(spark, twin, batch = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.toSet == want, "forget must equal never-ingested")
  }
}
