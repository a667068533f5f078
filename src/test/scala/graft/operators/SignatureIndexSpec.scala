package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The persisted-signature-index lifecycle: build once, ingest deltas,
  * probe each batch from the STORED table without re-kerneling anything
  * already ingested.
  */
class SignatureIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Write `df` as ONE plain parquet file at `dest` with a chosen mtime —
    * the file-stream source picks files up in mtime order, which is what
    * makes the multi-micro-batch tests deterministic.
    */
  private def oneFile(df: DataFrame, dest: String, mtime: Long): Unit =
    graft.StreamFixtures.oneFile(df, dest, mtime)

  /** Brute-force twin: batch-`n` docs vs ALL pairs over the given corpus
    * slices, min witness among (earlier batch, any id) + (same batch,
    * lower id). Computed straight from the kernel, no banding.
    */
  private def bruteWitness(docs: DataFrame, batchOf: org.apache.spark.sql.Column,
                           batch: Int): DataFrame = {
    val sigs = SignatureIndex.signatures(docs).withColumn("batch", batchOf)
    val a = sigs.filter(col("batch") === batch).as("a")
    val b = sigs.filter(col("batch") <= batch).as("b")
    val m = a.join(b,
        (col("b.batch") < batch || col("b.doc_id") < col("a.doc_id")) &&
          expr("bit_count(a.simhash ^ b.simhash) <= 6"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("dup_of"))
    sigs.filter(col("batch") === batch).select("doc_id")
      .join(m, Seq("doc_id"), "left")
  }

  test("two-batch lifecycle matches the brute-force witness relation") {
    val path = Files.createTempDirectory("graft_sigidx_spec_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val batchOf = (pmod(col("doc_id"), lit(3))).cast("int")

    SignatureIndex.build(docs.filter(batchOf === 0), path)
    SignatureIndex.ingest(docs.filter(batchOf === 1), path, batch = 1)
    val probe1 = SignatureIndex.probe(spark, path, batch = 1)
    assert(probe1.orderBy("doc_id").collect().toSeq ==
      bruteWitness(docs, batchOf, 1).orderBy("doc_id").collect().toSeq)

    // batch 2 must see base AND batch 1 from the index, plus lower-id peers
    SignatureIndex.ingest(docs.filter(batchOf === 2), path, batch = 2)
    val probe2 = SignatureIndex.probe(spark, path, batch = 2)
    assert(probe2.orderBy("doc_id").collect().toSeq ==
      bruteWitness(docs, batchOf, 2).orderBy("doc_id").collect().toSeq)

    // at least one batch-2 doc should have witnessed a batch-1 or base doc
    // (otherwise the cross-batch path went untested — fail loudly)
    assert(probe2.filter(col("dup_of").isNotNull).count() > 0,
      "test corpus produced no cross-batch near-dups; slice differently")
  }

  test("probe plan is kernel-free: no simhash, no text column read") {
    val path = Files.createTempDirectory("graft_sigidx_plan_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    SignatureIndex.build(docs.filter(col("doc_id") % 2 === 0), path)
    SignatureIndex.ingest(docs.filter(col("doc_id") % 2 === 1), path, batch = 1)
    val plan = SignatureIndex.probe(spark, path, batch = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("simhash63"),
      s"probe must not re-kernel any corpus slice:\n$plan")
    assert(!plan.contains("text"),
      s"probe must never read document text:\n$plan")
    assert(plan.contains("Batched: true") || plan.contains("FileScan parquet"),
      s"probe must scan the stored index:\n$plan")
  }

  test("streamed ingest (st_sig_ingest path) interoperates with batch probe") {
    val base = Files.createTempDirectory("graft_sigidx_stream_").toString
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    // batch 0 arrives over the STREAMING path (foreachBatch append — the
    // manifest-committed file sink would hide later batch appends)...
    val streamed = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .filter(col("doc_id") % 2 === 0)
    val q = SignatureIndex.ingestStream(streamed, s"$base/idx", s"$base/cp")
    try q.processAllAvailable() finally q.stop()
    // ...batch 1 through the batch ingest; probe must equal a twin index
    // built entirely by batch
    val docs = Tables.load(spark, sfDir, "documents")
    SignatureIndex.ingest(docs.filter(col("doc_id") % 2 === 1), s"$base/idx", batch = 1)
    val twin = Files.createTempDirectory("graft_sigidx_twin_").toString
    SignatureIndex.build(docs.filter(col("doc_id") % 2 === 0), twin)
    SignatureIndex.ingest(docs.filter(col("doc_id") % 2 === 1), twin, batch = 1)
    assert(
      SignatureIndex.probe(spark, s"$base/idx", batch = 1).orderBy("doc_id").collect().toSeq ==
        SignatureIndex.probe(spark, twin, batch = 1).orderBy("doc_id").collect().toSeq)
  }

  test("streamed micro-batches land real batch ids: probe treats earlier ones as index side") {
    // base corpus via batch build; the delta arrives as TWO micro-batches
    // (two source files, maxFilesPerTrigger=1) whose ids must continue the
    // stored sequence (1, 2) — then probe(2) answers "batch-2 docs vs base
    // + batch 1 + lower-id peers" purely from the stored table, the
    // delta-sized-probe cost model the streamed path previously could not
    // express (every append landed as batch 0).
    val base = Files.createTempDirectory("graft_sigidx_mb_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val batchOf = pmod(col("doc_id"), lit(3)).cast("int")
    SignatureIndex.build(docs.filter(batchOf === 0), s"$base/idx")

    // distinct mtimes make the file-source pick-up order deterministic
    oneFile(docs.filter(batchOf === 1), s"$base/src/d1.parquet", 1000000000000L)
    oneFile(docs.filter(batchOf === 2), s"$base/src/d2.parquet", 1000000060000L)

    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = SignatureIndex.ingestStream(streamed, s"$base/idx", s"$base/cp")
    try q.processAllAvailable() finally q.stop()

    val batches = spark.read.parquet(s"$base/idx")
      .select("batch").distinct().collect().map(_.getInt(0)).toSet
    assert(batches == Set(0, 1, 2), s"expected batch ids 0,1,2; got $batches")

    assert(SignatureIndex.probe(spark, s"$base/idx", batch = 2)
        .orderBy("doc_id").collect().toSeq ==
      bruteWitness(docs, batchOf, 2).orderBy("doc_id").collect().toSeq)
  }

  test("stream restart continues batch ids from the checkpoint-pinned base") {
    // base arrives by batch API (nextBatch -> 1); a stream ingests one
    // file, stops, and a RESTARTED stream (same checkpoint) ingests a
    // second file. The restarted query must keep the ORIGINAL base from
    // the checkpoint marker — recomputing max(batch)+1 at restart would
    // shift ids (and would mis-batch a replayed micro-batch).
    val base = Files.createTempDirectory("graft_sigidx_restart_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val batchOf = pmod(col("doc_id"), lit(3)).cast("int")
    SignatureIndex.build(docs.filter(batchOf === 0), s"$base/idx")
    assert(IndexStream.nextBatch(spark, s"$base/idx") == 1)

    def runStream(): Unit = {
      val streamed = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = SignatureIndex.ingestStream(streamed, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
    }
    oneFile(docs.filter(batchOf === 1), s"$base/src/d1.parquet", 1000000000000L)
    runStream()
    oneFile(docs.filter(batchOf === 2), s"$base/src/d2.parquet", 1000000060000L)
    runStream() // restart: checkpoint assigns the new file batchId 1 -> batch 1+1=2

    val batches = spark.read.parquet(s"$base/idx")
      .select("batch").distinct().collect().map(_.getInt(0)).toSet
    assert(batches == Set(0, 1, 2), s"expected batch ids 0,1,2 across restart; got $batches")
    assert(SignatureIndex.probe(spark, s"$base/idx", batch = 2)
        .orderBy("doc_id").collect().toSeq ==
      bruteWitness(docs, batchOf, 2).orderBy("doc_id").collect().toSeq)
  }

  test("streamed probe equals the batch ingest+probe sequence over the same slices") {
    // three crawl increments arrive as three micro-batches; the streamed
    // in-flight verdicts (probeStream's out table) must equal running the
    // batch lifecycle — build, ingest, probe per batch — over identical
    // slices on a twin index
    val base = Files.createTempDirectory("graft_sigidx_probe_stream_").toString
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val batchOf = pmod(col("doc_id"), lit(3)).cast("int")

    oneFile(docs.filter(batchOf === 0), s"$base/src/d0.parquet", 1000000000000L)
    oneFile(docs.filter(batchOf === 1), s"$base/src/d1.parquet", 1000000060000L)
    oneFile(docs.filter(batchOf === 2), s"$base/src/d2.parquet", 1000000120000L)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val jobs = JobCount.of(spark) {
      val q = SignatureIndex.probeStream(streamed, s"$base/idx", s"$base/out", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
    }
    assert(jobs == 27, s"the streamed probe's start and three triggers ran $jobs Spark jobs, not 27")

    val twin = Files.createTempDirectory("graft_sigidx_probe_twin_").toString
    SignatureIndex.build(docs.filter(batchOf === 0), twin)
    SignatureIndex.ingest(docs.filter(batchOf === 1), twin, batch = 1)
    SignatureIndex.ingest(docs.filter(batchOf === 2), twin, batch = 2)
    val twinVerdicts = (0 to 2).map(b =>
      SignatureIndex.probe(spark, twin, b).withColumn("batch", lit(b)))
      .reduce(_ unionAll _)

    assert(spark.read.parquet(s"$base/out")
        .select("doc_id", "dup_of", "batch").orderBy("doc_id").collect().toSeq ==
      twinVerdicts.select("doc_id", "dup_of", "batch").orderBy("doc_id").collect().toSeq)

    // the cross-batch path must actually fire (a batch>0 doc witnessing an
    // earlier batch) or this test proves nothing — fail loudly
    assert(spark.read.parquet(s"$base/out")
        .filter(col("batch") > 0 && col("dup_of").isNotNull).count() > 0,
      "no cross-batch near-dups in the streamed slices; slice differently")
  }

  test("d_dedup_index query plan reads the index, not the kernel") {
    val df = graft.SparkEntry.queries("d_dedup_index")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("simhash63"),
      s"query plan must be kernel-free (index-only):\n$plan")
  }

  test("cluster-family pair feed is index-fed: no kernel, no text in its plan") {
    // round 9 moved d_dup_clusters / p_neardup_prune / p_dedup_weights off
    // the in-plan text kernel onto the stored signature index. The final
    // query plans embed checkpointed LogicalRDDs (the feed runs inside
    // label()), so pin the FEED's own plan — the relation all three
    // queries consume — against the kernel sneaking back in; it carried
    // all the 10x feed variance (SCALE.md round-9 section).
    val plan = graft.queries.NorthStar.storedSimhashPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("simhash63"),
      s"pair feed must band the stored index, not re-kernel text:\n$plan")
    assert(!plan.contains("text"),
      s"pair feed must never read document text:\n$plan")
  }

  test("forget: tombstoned docs vanish from probes; compact reclaims and retires") {
    val base = Files.createTempDirectory("graft_sigidx_forget_").toString
    val docs = Tables.load(spark, sfDir, "documents")
    val b = pmod(col("doc_id"), lit(3)).cast("int")
    SignatureIndex.build(docs.filter(b === 0), s"$base/idx")
    (1 to 2).foreach(i => SignatureIndex.ingest(docs.filter(b === i), s"$base/idx", batch = i))

    val gone = docs.filter(col("doc_id") % 17 === 0).select("doc_id")
    val goneSet = gone.collect().map(_.getLong(0)).toSet
    assert(goneSet.nonEmpty)
    SignatureIndex.forget(spark, s"$base/idx", gone)

    def probed() = SignatureIndex.probe(spark, s"$base/idx", batch = 2)
      .orderBy("doc_id").collect().toSeq
    val afterForget = probed()
    assert(afterForget.forall(r => !goneSet(r.getLong(0))),
      "forgotten docs must not appear on the probe side")
    assert(afterForget.forall(r => r.isNullAt(1) || !goneSet(r.getLong(1))),
      "forgotten docs must never be witnesses")
    // parity: the live view must equal an index that never saw those docs
    val twin = Files.createTempDirectory("graft_sigidx_forget_twin_").toString
    val kept = docs.join(gone, Seq("doc_id"), "left_anti")
    SignatureIndex.build(kept.filter(b === 0), twin)
    (1 to 2).foreach(i => SignatureIndex.ingest(kept.filter(b === i), twin, batch = i))
    val want = SignatureIndex.probe(spark, twin, batch = 2).orderBy("doc_id").collect().toSeq
    assert(afterForget == want, "forget must equal never-ingested")

    // compaction physically reclaims the rows and retires the tombstones
    IndexMaintenance.compact(spark, s"$base/idx")
    val survivors = spark.read.parquet(s"$base/idx")
    assert(survivors.filter(col("doc_id").isin(goneSet.toSeq: _*)).count() == 0,
      "compaction must reclaim tombstoned rows")
    val fs = new org.apache.hadoop.fs.Path(s"$base/idx")
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/idx/_tombstones")),
      "applied tombstones must be retired with the swap")
    assert(probed() == want, "post-compaction probe must be unchanged")
  }
}
