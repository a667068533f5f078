package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The persisted SQ8 (scalar-quantization) lifecycle: train a frozen
  * per-corpus scale, encode once, store, answer exact-integer-dot queries
  * from the stored table with no re-encoding and no float math.
  */
class SqIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def emb = Tables.load(spark, sfDir, "embeddings")

  private def probeVec: Seq[Float] =
    emb.filter(col("vec_id") === 1).select("embedding")
      .collect().head.getSeq[Float](0)

  test("stored-table query returns exactly the inline s_ann_sq8 result") {
    val inline = graft.SparkEntry.queries("s_ann_sq8")(spark, sfDir)
    val stored = graft.SparkEntry.queries("s_ann_sq8_index")(spark, sfDir)
    assert(stored.collect().toSeq == inline.collect().toSeq)
  }

  test("query plan scans only the code table: no embeddings, no encoder") {
    val path = Files.createTempDirectory("graft_sqidx_spec_").toString
    SqIndex.build(emb, SqIndex.train(emb), path)
    val plan = SqIndex.query(spark, path, probeVec, topN = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("embedding"),
      s"query must never read the embedding column:\n$plan")
    assert(!plan.contains("floor("),
      s"query must not re-encode (quantization math found):\n$plan")
    assert(plan.contains(path) || plan.contains("FileScan parquet"),
      s"query must scan the stored code table:\n$plan")
  }

  test("build + chained ingests are byte-identical to a from-scratch build") {
    val scale = SqIndex.train(emb)
    val grown = Files.createTempDirectory("graft_sqidx_grown_").toString
    SqIndex.build(emb.filter(col("vec_id") % 3 === 0), scale, grown)
    SqIndex.ingest(emb.filter(col("vec_id") % 3 === 1), grown)
    SqIndex.ingest(emb.filter(col("vec_id") % 3 === 2), grown)
    val scratch = Files.createTempDirectory("graft_sqidx_scratch_").toString
    SqIndex.build(emb, scale, scratch)
    assert(spark.read.parquet(grown).orderBy("vec_id").collect().toSeq ==
      spark.read.parquet(scratch).orderBy("vec_id").collect().toSeq)
  }

  test("forget equals never-ingested; compaction reclaims and keeps the scale") {
    val scale = SqIndex.train(emb)
    val full = Files.createTempDirectory("graft_sqidx_fgt_").toString
    SqIndex.build(emb, scale, full)
    SqIndex.forget(spark, full, emb.filter(col("vec_id") % 2 === 0).select("vec_id"))

    val half = Files.createTempDirectory("graft_sqidx_half_").toString
    SqIndex.build(emb.filter(col("vec_id") % 2 === 1), scale, half)

    val p = probeVec
    val afterForget = SqIndex.query(spark, full, p, topN = 5).collect().toSeq
    val neverHad = SqIndex.query(spark, half, p, topN = 5).collect().toSeq
    assert(afterForget == neverHad)

    // physical reclamation must not change answers, and the _scale sidecar
    // must ride the compaction swap (IndexMaintenance.rescueSidecars)
    val (nb, na) = IndexMaintenance.compact(spark, full)
    assert(na <= nb)
    assert(SqIndex.readScale(spark, full) == scale,
      "_scale sidecar must survive compaction")
    assert(SqIndex.query(spark, full, p, topN = 5).collect().toSeq == neverHad)
    val survivors = spark.read.parquet(full)
    assert(survivors.filter(col("vec_id") % 2 === 0).count() == 0,
      "tombstoned code rows must be physically reclaimed")
  }

  test("streamed ingest produces a table the batch query answers from identically") {
    val base = Files.createTempDirectory("graft_sqidx_stream_").toString
    val scale = SqIndex.train(emb)
    val streamed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
      .option("pathGlobFilter", "embeddings.parquet").parquet(sfDir)
    val jobs = JobCount.of(spark) {
      val q = SqIndex.ingestStream(streamed, scale, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
    }
    // the `_scale` sidecar write, then one trigger's append job
    assert(jobs == 2, s"the streamed ingest ran $jobs Spark jobs, not 2")

    val twin = Files.createTempDirectory("graft_sqidx_twin_").toString
    SqIndex.build(emb, scale, twin)
    assert(SqIndex.query(spark, s"$base/idx", probeVec, topN = 5).collect().toSeq ==
      SqIndex.query(spark, twin, probeVec, topN = 5).collect().toSeq)
  }

  test("ingestStream refuses to re-scale an existing code table") {
    val path = Files.createTempDirectory("graft_sqidx_rescale_").toString
    val scale = SqIndex.train(emb)
    SqIndex.build(emb, scale, path)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
      .option("pathGlobFilter", "embeddings.parquet").parquet(sfDir)
    val e = intercept[IllegalArgumentException] {
      SqIndex.ingestStream(stream, scale * 2, path,
        Files.createTempDirectory("graft_sqidx_rescale_cp_").toString)
    }
    assert(e.getMessage.contains("_scale"))
    assert(SqIndex.readScale(spark, path) == scale, "stored scale must be untouched")
  }

  test("an exact duplicate of the probe ties the probe's own score") {
    val scale = SqIndex.train(emb)
    val dup = emb.filter(col("vec_id") === 1)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    val codes = SqIndex.encode(
      emb.select("vec_id", "embedding").unionByName(dup), scale)
    val top = SqIndex.rank(codes, SqIndex.encodeVec(probeVec, scale), topN = 2)
      .collect()
    val byId = top.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.keySet == Set(1L, 10000001L),
      s"probe and its planted duplicate must rank first: ${top.mkString(",")}")
    assert(byId(1L) == byId(10000001L),
      "identical vectors must receive identical integer scores")
  }

  test("ingested vectors beyond the trained range clamp, not corrupt") {
    val spark0 = spark
    import spark0.implicits._
    val scale = SqIndex.train(emb)
    val path = Files.createTempDirectory("graft_sqidx_clamp_").toString
    SqIndex.build(emb, scale, path)
    val dim = probeVec.length
    val big = Seq((20000001L, Seq.fill(dim)((scale * 10).toFloat)))
      .toDF("vec_id", "embedding")
    SqIndex.ingest(big, path)
    val codes = spark.read.parquet(path)
      .filter(col("vec_id") === 20000001L)
      .select(explode(col("codes"))).as[Int].collect()
    assert(codes.forall(_ == 127), s"out-of-range components must clamp: ${codes.take(5).mkString(",")}")
  }
}
