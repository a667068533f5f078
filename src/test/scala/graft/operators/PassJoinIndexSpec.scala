package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stored PassJoin lifecycle: incremental probes and the streamed
  * screen must equal brute force across batch splits, pairs split across
  * batches surface at the later member, forget hides, compact preserves,
  * mixed radii fail loudly.
  */
class PassJoinIndexSpec extends SparkSpec {

  private def ents(rows: Seq[(Long, String)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("key", "name")
  }

  private val corpus: Seq[(Long, String)] = {
    val base = Seq(
      "partition pruning keeps the scan bounded while the optimizer reorders joins",
      "columnar formats amortize decode cost across vectorized reader batches",
      "the shuffle service spills sorted runs and merges them on fetch",
      "broadcast joins trade driver memory for a shuffle-free probe side")
    base.zipWithIndex.flatMap { case (s, i) =>
      val k = i.toLong * 10
      Seq((k, s), (k + 1, s.patch(8, "", 2)), (k + 2, s.patch(4, "qq", 0)))
    }
  }

  private def brute(rows: Seq[(Long, String)], tau: Int): Set[(Long, Long, Long)] = {
    val df = ents(rows)
    df.as("a").join(df.as("b"), col("a.key") < col("b.key"))
      .select(col("a.key"), col("b.key"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("d"))
      .filter(col("d") <= tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def probeAll(path: String, upTo: Int): Set[(Long, Long, Long)] =
    (0 to upTo).map(b => EntityBlockIndex.verifyTypo(
        PassJoinIndex.candidates(spark, path, b), tau = 2))
      .reduce(_ unionByName _)
      .dropDuplicates("a_key", "b_key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("incremental stored probes equal brute force; cross-batch pairs surface once") {
    val p = Files.createTempDirectory("graft_pjidx_").toString + "/idx"
    // split so several true pairs STRADDLE the batch boundary
    val (b0, b1) = corpus.partition(_._1 % 10 != 1)
    PassJoinIndex.build(ents(b0), p, tau = 2)
    PassJoinIndex.ingest(ents(b1), p, batch = 1, tau = 2)
    assert(probeAll(p, 1) == brute(corpus, 2))
  }

  test("a three-trigger streamed screen equals the one-shot brute force") {
    val base = Files.createTempDirectory("graft_pjidx_stream_").toString
    // key mod 3 splits every true pair across two triggers
    for (sl <- 0 to 2)
      graft.StreamFixtures.oneFile(ents(corpus.filter(_._1 % 3 == sl)),
        s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
    val streamed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("key BIGINT, name STRING"))
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val jobs = JobCount.of(spark) {
      val q = PassJoinIndex.screenStream(streamed, s"$base/idx", s"$base/out",
        s"$base/cp", tau = 2)
      try q.processAllAvailable() finally q.stop()
    }
    assert(jobs == 52, s"the streamed screen's start and three triggers ran $jobs Spark jobs, not 52")
    val got = spark.read.parquet(s"$base/out").dropDuplicates("a_key", "b_key")
      .select("a_key", "b_key", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = brute(corpus, 2)
    assert(want.nonEmpty, "fixture has pairs within tau = 2")
    assert(got == want)
    assert(spark.read.parquet(s"$base/idx").select("batch").distinct().count() == 3,
      "one real batch id per trigger")
  }

  test("forget hides an entity from probes; compact reclaims, answers unchanged") {
    val p = Files.createTempDirectory("graft_pjidx_fgt_").toString + "/idx"
    PassJoinIndex.build(ents(corpus), p, tau = 2)
    val spark0 = spark
    import spark0.implicits._
    PassJoinIndex.forget(spark, p, Seq(1L).toDF("key"))
    val expected = brute(corpus.filterNot(_._1 == 1L), 2)
    assert(probeAll(p, 0) == expected, "tombstoned key must vanish from pairs")
    PassJoinIndex.compact(spark, p)
    assert(probeAll(p, 0) == expected, "compaction must not change answers")
    assert(spark.read.parquet(p).filter(col("key") === 1L).isEmpty,
      "compaction must physically reclaim the tombstoned rows")
  }

  test("the in-memory batch probe honors the forget contract") {
    val p = Files.createTempDirectory("graft_pjidx_mem_").toString + "/idx"
    PassJoinIndex.build(ents(corpus), p, tau = 2)
    val spark0 = spark
    import spark0.implicits._
    PassJoinIndex.forget(spark, p, Seq(2L).toDF("key"))
    // a tombstoned entity re-arriving as an IN-MEMORY probe batch must
    // stay hidden (the family-wide re-registration contract)
    val rearrival = ents(corpus.filter(_._1 == 2L))
    val pairs = EntityBlockIndex.verifyTypo(
        PassJoinIndex.candidates(spark, p, batch = 1, Some(rearrival)), tau = 2)
      .collect()
    assert(pairs.isEmpty, s"tombstoned re-arrival produced pairs: ${pairs.toSeq}")
  }

  /** 150 diverse 64-character strings (hex digests of their keys): their
    * segments spread over nearly every bb= bucket.
    */
  private def hexNames: DataFrame =
    spark.range(150).select(col("id").as("key"), sha2(col("id").cast("string"), 256).as("name"))

  test("a small batch's probe is partition-pruned to its bb= buckets") {
    val p = Files.createTempDirectory("graft_pjidx_prune_").toString + "/idx"
    PassJoinIndex.build(hexNames, p, tau = 2)
    val one = hexNames.limit(1)
    PassJoinIndex.ingest(one, p, batch = 1, tau = 2)
    val nb = spark.read.parquet(p).select("bb").distinct().count()
    // the stored side is pruned by the buckets of the batch's PROBE
    // entries, which outnumber its k = 3 segments
    val probeBuckets = PassJoin.probeEntries(one, 2)
      .select(BatchBuckets.bucket(col("sig"))).distinct().count()
    assert(nb > probeBuckets, s"master must span more buckets than the probe ($nb vs $probeBuckets)")
    val scans = fileScans(PassJoinIndex.candidates(spark, p, batch = 1))
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      assert(scan.partitionFilters.exists(_.toString.contains("bb")),
        s"index scan not bucket-pruned: ${scan.partitionFilters}")
      assert(scan.selectedPartitions.partitionCount <= probeBuckets,
        s"expected <=$probeBuckets pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    }
  }

  test("batch probes discover their buckets from the manifest, not an index-wide scan") {
    val p = Files.createTempDirectory("graft_pjidx_manifest_").toString + "/idx"
    val (b0, b1) = corpus.partition(_._1 % 10 != 1)
    PassJoinIndex.build(ents(b0), p, tau = 2)
    PassJoinIndex.ingest(ents(b1), p, batch = 1, tau = 2)
    def probe1() = EntityBlockIndex.verifyTypo(
        PassJoinIndex.candidates(spark, p, batch = 1), tau = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = BatchBuckets.discoveryScans.get()
    val manifested = probe1()
    assert(BatchBuckets.discoveryScans.get() == before,
      "a manifested batch probe ran the legacy index-wide bucket-discovery scan")
    assert(manifested.nonEmpty, "fixture has cross-batch pairs")
    // a manifest-less artifact falls back to the counted legacy scan,
    // exactly once, with the SAME answers
    val md = new org.apache.hadoop.fs.Path(BatchBuckets.dir(p))
    md.getFileSystem(spark.sessionState.newHadoopConf()).delete(md, true)
    val legacy = probe1()
    assert(BatchBuckets.discoveryScans.get() == before + 1,
      "the manifest-less fallback was expected to take (and count) the legacy scan once")
    assert(legacy == manifested)
  }

  test("a mixed-radius writer fails loudly") {
    val p = Files.createTempDirectory("graft_pjidx_tau_").toString + "/idx"
    PassJoinIndex.build(ents(corpus), p, tau = 2)
    val ex = intercept[IllegalArgumentException] {
      PassJoinIndex.ingest(ents(corpus.take(2)), p, batch = 1, tau = 1)
    }
    assert(ex.getMessage.contains("tau"), s"wrong failure: ${ex.getMessage}")
  }
}
