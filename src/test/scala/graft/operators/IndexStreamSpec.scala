package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Every probe/screen stream starts through [[IndexStream.appendWithBatchIds]]:
  * started over an index whose compaction crashed mid-swap (the live
  * directory renamed aside to `.compact_trash`), each must heal before
  * its first append — every stored batch survives — and land that first
  * micro-batch under the stored next batch id.
  */
class IndexStreamSpec extends SparkSpec {

  private def docs(ids: Range): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    ids.map(i => (i.toLong, s"document $i repeats the shared boilerplate sentence of the crawl"))
      .toDF("doc_id", "text")
  }

  private def ents(ids: Range): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    ids.map(i => (i.toLong, f"customer record $i%05d on the corner of main street"))
      .toDF("key", "name")
  }

  private val docSchema = "doc_id BIGINT, text STRING"
  private val entSchema = "key BIGINT, name STRING"

  /** (entry point, stream schema, rows, batch API build + ingest, stream start) */
  private val entries: Seq[(String, String, Range => DataFrame,
      (DataFrame, DataFrame, String) => Unit, (DataFrame, String, String) => StreamingQuery)] = Seq(
    ("SignatureIndex.probeStream", docSchema, docs,
      (b0, b1, p) => { SignatureIndex.build(b0, p); SignatureIndex.ingest(b1, p, 1) },
      (s, p, base) => SignatureIndex.probeStream(s, p, s"$base/out", s"$base/cp")),
    ("SubstringIndex.probeStream", docSchema, docs,
      (b0, b1, p) => { SubstringIndex.build(b0, p, 8); SubstringIndex.ingest(b1, p, 1, 8) },
      (s, p, base) => SubstringIndex.probeStream(s, p, s"$base/out", s"$base/cp", 8)),
    ("MinHashIndex.probeStream", docSchema, docs,
      (b0, b1, p) => { MinHashIndex.build(b0, p); MinHashIndex.ingest(b1, p, 1) },
      (s, p, base) => MinHashIndex.probeStream(s, p, s"$base/docs", s"$base/out", s"$base/cp")),
    ("EntityBlockIndex.screenStream", entSchema, ents,
      (b0, b1, p) => { EntityBlockIndex.build(b0, p); EntityBlockIndex.ingest(b1, p, 1) },
      (s, p, base) => EntityBlockIndex.screenStream(s, p, s"$base/out", s"$base/cp")),
    ("FastSsIndex.screenStream", entSchema, ents,
      (b0, b1, p) => { FastSsIndex.build(b0, p); FastSsIndex.ingest(b1, p, 1) },
      (s, p, base) => FastSsIndex.screenStream(s, p, s"$base/out", s"$base/cp")),
    ("PassJoinIndex.screenStream", entSchema, ents,
      (b0, b1, p) => { PassJoinIndex.build(b0, p); PassJoinIndex.ingest(b1, p, 1) },
      (s, p, base) => PassJoinIndex.screenStream(s, p, s"$base/out", s"$base/cp")))

  private def rowsPerBatch(path: String): Map[Int, Long] =
    spark.read.parquet(path).groupBy("batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  for ((name, schema, rows, seed, start) <- entries)
    test(s"$name heals a crashed swap first and lands its first batch under the stored next id") {
      val base = Files.createTempDirectory("graft_idxstream_crash_").toString
      val p = s"$base/idx"
      seed(rows(0 until 20), rows(20 until 30), p)
      val stored = rowsPerBatch(p)
      assert(IndexStream.nextBatch(spark, p) == 2)
      // the crash window between live -> trash and tmp -> live
      val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.rename(new Path(p), new Path(p + ".compact_trash")))
      graft.StreamFixtures.oneFile(rows(30 until 40), s"$base/src/s0.parquet", 1000000000000L)
      val streamed = spark.readStream.schema(StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = start(streamed, p, base)
      try q.processAllAvailable() finally q.stop()
      assert(!fs.exists(new Path(p + ".compact_trash")), "the crashed swap was not healed")
      val after = rowsPerBatch(p)
      assert(after.keySet == stored.keySet + 2,
        s"the first micro-batch must land as batch 2: ${after.keySet}")
      assert(after - 2 == stored, "a stored batch lost rows: the stream appended before healing")
    }
}
