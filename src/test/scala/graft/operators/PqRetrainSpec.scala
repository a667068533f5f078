package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The versioned PQ lifecycle with retrain (r17 verdict missing #3):
  * retrain equals a fresh build on the same corpus byte-for-byte, recall
  * on a drifted corpus improves after retrain, ingest continues under the
  * new version, snapshot pins survive a concurrent retrain's GC, and
  * forgotten ids cannot re-enter through a retrain.
  */
class PqRetrainSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")

  /** Drifted arrivals: new ids from a SHIFTED distribution — the planted
    * cluster shift (first subspace displaced) that makes a codebook
    * trained pre-drift fit the new mass poorly.
    */
  private def drifted = emb0
    .select((col("vec_id") + 100000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> CASE WHEN i < 16 " +
        "THEN CAST(x + 2.5 AS FLOAT) ELSE x END)").as("embedding"))

  private def queryRows(path: String, probe: Seq[Float], n: Int): Seq[Long] =
    PqIndex.queryVersioned(spark, path, probe, n).collect().map(_.getLong(0)).toSeq

  /** Exact dot-product top-n over a collected corpus — the recall
    * reference (ADC approximates the dot).
    */
  private def exactTop(corpus: Array[(Long, Array[Float])], probe: Seq[Float],
                       n: Int): Set[Long] = {
    val p = probe.toArray
    corpus.map { case (id, v) =>
      var d = 0.0; var i = 0
      while (i < v.length) { d += v(i).toDouble * p(i); i += 1 }
      (d, id)
    }.sortBy { case (d, id) => (-d, id) }.take(n).map(_._2).toSet
  }

  test("retrain equals a fresh build on the same corpus, byte for byte") {
    val p1 = Files.createTempDirectory("graft_pqrt_a_").toString
    val p2 = Files.createTempDirectory("graft_pqrt_b_").toString
    val corpus = emb0.unionByName(drifted)
    PqIndex.buildVersioned(emb0, p1)
    PqIndex.ingestVersioned(drifted, p1) // encoded under the v1 codebook
    PqIndex.retrain(spark, p1, corpus)   // v2: trained + encoded on corpus
    PqIndex.buildVersioned(corpus, p2)   // fresh v1 on the same corpus
    val a = spark.read.parquet(s"$p1/v=2/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    val b = spark.read.parquet(s"$p2/v=1/codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    assert(a == b, "retrained codes differ from a fresh build on the same corpus")
    assert(PqIndex.loadCodebook(spark, p1, 2).toSeq ==
      PqIndex.loadCodebook(spark, p2, 1).toSeq, "codebooks differ")
  }

  test("recall on the drifted corpus improves after retrain; ingest continues under v2") {
    val path = Files.createTempDirectory("graft_pqrt_recall_").toString
    PqIndex.buildVersioned(emb0, path)
    PqIndex.ingestVersioned(drifted, path)
    val corpusDf = emb0.unionByName(drifted)
    val corpus = corpusDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // probes from the drifted mass — their true neighbors are drifted
    // vectors the v1 codebook quantizes coarsely
    val probes = drifted.filter(col("vec_id") % 97 === 3).limit(8).collect()
      .map(_.getSeq[Float](1))
    def recall(): Double = {
      val hits = probes.map { p =>
        val exact = exactTop(corpus, p, 10)
        val got = queryRows(path, p, 10).toSet
        (exact intersect got).size.toDouble / 10.0
      }
      hits.sum / hits.length
    }
    val before = recall()
    PqIndex.retrain(spark, path, corpusDf)
    val after = recall()
    assert(after >= before,
      s"retrain degraded recall: $before -> $after")
    assert(after > before + 0.01,
      s"planted drift must show a measurable recall win: $before -> $after")
    // ingest AFTER retrain lands under the new version, no caller change
    val extra = emb0.limit(3)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    PqIndex.ingestVersioned(extra, path)
    assert(PqIndex.currentVersion(spark, path) == 2)
    val v2Ids = spark.read.parquet(s"$path/v=2/codes")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(extra.collect().map(_.getLong(0)).toSet.subsetOf(v2Ids),
      "post-retrain ingest must land under the new version")
  }

  test("snapshot pin holds the old version across a retrain; GC reclaims after release") {
    val path = Files.createTempDirectory("graft_pqrt_pin_").toString
    PqIndex.buildVersioned(emb0, path)
    val probe = emb0.limit(1).collect()(0).getSeq[Float](1)
    val v1Answer = queryRows(path, probe, 5)
    val corpusDf = emb0.unionByName(drifted)
    PqIndex.withSnapshot(spark, path) { v =>
      assert(v == 1)
      PqIndex.retrain(spark, path, corpusDf) // flips to v2, GC must skip v1
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=1")),
        "pinned version must survive the retrain's GC")
      // the bracketed reader still resolves its consistent pair
      assert(PqIndex.queryVersioned(spark, path, probe, 5, version = v)
        .collect().map(_.getLong(0)).toSeq == v1Answer)
    }
    // bracket released: the next retrain reclaims v1
    PqIndex.retrain(spark, path, corpusDf)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=1")),
      "unpinned superseded version must be reclaimed")
    assert(PqIndex.currentVersion(spark, path) == 3)
  }

  test("a torn pin and an expired pin neither fail a retrain nor block its GC") {
    val path = Files.createTempDirectory("graft_pqrt_badpin_").toString
    PqIndex.buildVersioned(emb0, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val pins = new org.apache.hadoop.fs.Path(path, "_reader_pins")
    // a reader that died between creating its pin and writing it
    fs.create(new org.apache.hadoop.fs.Path(pins, "pin-torn"), true).close()
    // a reader that died long ago while holding v1
    val expired = new org.apache.hadoop.fs.Path(pins, "pin-expired")
    val out = fs.create(expired, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    fs.setTimes(expired, System.currentTimeMillis() - PqIndex.PinTtlMs - 60000L, -1)
    assert(PqIndex.retrain(spark, path, emb0) == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=1")),
      "an expired or unparseable pin must not keep v1 alive")
    assert(!fs.exists(expired), "the expired pin must be deleted")
  }

  test("forgotten ids stay forgotten through a retrain") {
    val path = Files.createTempDirectory("graft_pqrt_fgt_").toString
    PqIndex.buildVersioned(emb0, path)
    val spark0 = spark
    import spark0.implicits._
    val gone = emb0.limit(1).collect()(0).getLong(0)
    PqIndex.forgetVersioned(spark, path, Seq(gone).toDF("vec_id"))
    val probe = emb0.filter(col("vec_id") === gone).collect()(0).getSeq[Float](1)
    assert(!queryRows(path, probe, 20).contains(gone), "forgotten id still ranks")
    // the caller's corpus frame still carries the id — retrain must not
    // resurrect it
    PqIndex.retrain(spark, path, emb0)
    assert(!queryRows(path, probe, 20).contains(gone),
      "retrain resurrected a forgotten id")
    assert(!spark.read.parquet(s"$path/v=2/codes").collect()
      .map(_.getLong(0)).contains(gone), "forgotten id re-encoded by retrain")
  }
}
