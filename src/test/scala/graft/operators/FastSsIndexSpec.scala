package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The persisted deletion-neighborhood lifecycle: the stored
  * cross-length screen must equal the unrestricted brute-force
  * edit-distance-1 match — across batches AND across lengths (the
  * fixture corpus is all equal-length names, so the synthetic
  * multi-batch set is what actually exercises insert/delete pairs split
  * across batches).
  */
class FastSsIndexSpec extends SparkSpec {

  private def customers = Tables.load(spark, "/root/testdata/sf0.001", "customer")
    .select(col("c_custkey").as("key"), col("c_name").as("name"))

  private def brute(ents: DataFrame): Set[(Long, Long, Long)] =
    ents.as("a").join(ents.as("b"), col("a.key") < col("b.key"))
      .select(col("a.key").as("a_key"), col("b.key").as("b_key"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def probeAll(path: String, batches: Range): Set[(Long, Long, Long)] =
    batches.map(b => EntityBlockIndex.verifyTypo(
        FastSsIndex.candidates(spark, path, b)))
      .reduce(_ unionByName _).dropDuplicates("a_key", "b_key")
      .collect().map(r => (r.getAs[Long]("a_key"), r.getAs[Long]("b_key"),
        r.getAs[Long]("dist"))).toSet

  test("incremental stored probe equals brute force on the corpus") {
    val p = Files.createTempDirectory("graft_fssidx_").toString + "/idx"
    FastSsIndex.build(customers.filter(pmod(col("key"), lit(3)) === 0), p)
    FastSsIndex.ingest(customers.filter(pmod(col("key"), lit(3)) === 1), p, batch = 1)
    FastSsIndex.ingest(customers.filter(pmod(col("key"), lit(3)) === 2), p, batch = 2)
    assert(probeAll(p, 0 to 2) == brute(customers))
  }

  test("cross-length pairs split ACROSS batches are found at the later member") {
    import spark.implicits._
    // insert/delete/substitution variants of a base name, deliberately
    // split so every pair's members land in DIFFERENT batches — the
    // parity-block index is structurally blind to the cross-length ones
    val batch0 = Seq(1L -> "abcdef", 2L -> "Xbcdef", 3L -> "ab")
    val batch1 = Seq(10L -> "abcdefX", 11L -> "bcdef", 12L -> "abdef",
      13L -> "abc", 14L -> "a")
    val all = (batch0 ++ batch1).toDF("key", "name")
    val p = Files.createTempDirectory("graft_fssidx_x_").toString + "/idx"
    FastSsIndex.build(batch0.toDF("key", "name"), p)
    FastSsIndex.ingest(batch1.toDF("key", "name"), p, batch = 1)
    val got = probeAll(p, 0 to 1)
    val want = brute(all)
    assert(got == want, s"stored cross-length probe diverged: got $got want $want")
    assert(want.exists(_._3 == 1L), "fixture must contain edit-distance-1 pairs")
  }

  private def bruteEd2(ents: DataFrame): Set[(Long, Long, Long)] =
    ents.as("a").join(ents.as("b"), col("a.key") < col("b.key"))
      .select(col("a.key").as("a_key"), col("b.key").as("b_key"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("tau=2 stored lifecycle: cross-batch two-edit pairs equal brute force; mixed radii fail loudly") {
    import spark.implicits._
    // two-edit variants split so every pair's members land in DIFFERENT
    // batches: transposition, double insert, double delete, mixed edits
    val batch0 = Seq(1L -> "abcdef", 2L -> "ab", 3L -> "qrstuv")
    val batch1 = Seq(10L -> "bacdef", 11L -> "abcdefXY", 12L -> "cdef",
      13L -> "Xabcde", 14L -> "ba", 15L -> "qrXtYv")
    val all = (batch0 ++ batch1).toDF("key", "name")
    val p = Files.createTempDirectory("graft_fssed2_idx_").toString + "/idx"
    FastSsIndex.build(batch0.toDF("key", "name"), p, tau = 2)
    FastSsIndex.ingest(batch1.toDF("key", "name"), p, batch = 1, tau = 2)
    val got = (0 to 1).map(b => EntityBlockIndex.verifyTypo(
        FastSsIndex.candidates(spark, p, b), tau = 2))
      .reduce(_ unionByName _).dropDuplicates("a_key", "b_key")
      .collect().map(r => (r.getAs[Long]("a_key"), r.getAs[Long]("b_key"),
        r.getAs[Long]("dist"))).toSet
    val want = bruteEd2(all)
    assert(got == want, s"stored tau=2 probe diverged: got $got want $want")
    assert(want.exists(_._3 == 2L), "fixture must contain distance-2 pairs")
    // a tau-1 writer against the tau-2 index is a silent recall hole —
    // the radius marker must fail it loudly (and the reverse)
    val e = intercept[IllegalArgumentException] {
      FastSsIndex.ingest(Seq(99L -> "zzz").toDF("key", "name"), p, batch = 2, tau = 1)
    }
    assert(e.getMessage.contains("tau"))
    assert(FastSsIndex.storedTau(spark, p) == 2)
    // the radius marker rides compaction's sidecar rescue: the rewritten
    // index still knows (and enforces) its radius, and probes still answer
    FastSsIndex.compact(spark, p)
    assert(FastSsIndex.storedTau(spark, p) == 2,
      "the _graft_tau marker must survive the compaction swap")
    intercept[IllegalArgumentException] {
      FastSsIndex.ingest(Seq(99L -> "zzz").toDF("key", "name"), p, batch = 2, tau = 1)
    }
    val afterCompact = (0 to 1).map(b => EntityBlockIndex.verifyTypo(
        FastSsIndex.candidates(spark, p, b), tau = 2))
      .reduce(_ unionByName _).dropDuplicates("a_key", "b_key")
      .collect().map(r => (r.getAs[Long]("a_key"), r.getAs[Long]("b_key"),
        r.getAs[Long]("dist"))).toSet
    assert(afterCompact == want, "compaction must not change tau=2 probe answers")
  }

  test("streamed cross-length screen hashes each entity once, equals one-shot") {
    val base = Files.createTempDirectory("graft_fssstream_").toString
    for (sl <- 0 to 2)
      graft.StreamFixtures.oneFile(customers.filter(pmod(col("key"), lit(3)) === sl),
        s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key BIGINT, name STRING")
    val streamed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val jobs = JobCount.of(spark) {
      val q = FastSsIndex.screenStream(
        streamed, s"$base/idx", s"$base/matches", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
    }
    assert(jobs == 43, s"the streamed screen's start and three triggers ran $jobs Spark jobs, not 43")
    val got = spark.read.parquet(s"$base/matches")
      .dropDuplicates("a_key", "b_key")
      .collect().map(r => (r.getAs[Long]("a_key"), r.getAs[Long]("b_key"),
        r.getAs[Long]("dist"))).toSet
    assert(got == brute(customers))
    // each entity was hashed exactly once in its lifetime: the stored
    // index holds its (deduped) deletion-signature rows and nothing
    // more — a larger count means the master list was re-kerneled
    val stored = spark.read.parquet(s"$base/idx")
    assert(stored.count() == FastSsIndex.signatures(customers).count(),
      "index must hold exactly one signature-row set per entity")
    assert(stored.select("batch").distinct().count() == 3)
  }

  test("a small batch's probe is partition-pruned to its bb= buckets") {
    val p = Files.createTempDirectory("graft_fssprune_").toString + "/idx"
    FastSsIndex.build(customers, p)
    FastSsIndex.ingest(customers.limit(1), p, batch = 1)
    val nb = spark.read.parquet(p).select("bb").distinct().count()
    assert(nb > 19, s"master must span many buckets for the pin to bite (got $nb)")
    val scans = fileScans(FastSsIndex.candidates(spark, p, batch = 1))
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      assert(scan.partitionFilters.exists(_.toString.contains("bb")),
        s"index scan not bucket-pruned: ${scan.partitionFilters}")
      // one entity of length L -> <= L+1 signatures -> <= L+1 buckets
      assert(scan.selectedPartitions.partitionCount <= 19,
        s"expected <=19 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    }
  }

  test("forget hides an entity; compact reclaims without changing answers") {
    val p = Files.createTempDirectory("graft_fssfgt_").toString + "/idx"
    FastSsIndex.build(customers.filter(pmod(col("key"), lit(2)) === 0), p)
    FastSsIndex.ingest(customers.filter(pmod(col("key"), lit(2)) === 1), p, batch = 1)
    val somePair = probeAll(p, 0 to 1).headOption
    assume(somePair.nonEmpty, "fixture has at least one typo pair")
    val victim = somePair.get._1
    FastSsIndex.forget(spark, p,
      spark.range(victim, victim + 1).select(col("id").as("key")))
    val afterForget = probeAll(p, 0 to 1)
    assert(!afterForget.exists(t => t._1 == victim || t._2 == victim))
    assert(afterForget == brute(customers.filter(col("key") =!= victim)))
    FastSsIndex.compact(spark, p)
    assert(probeAll(p, 0 to 1) == afterForget)
    assert(spark.read.parquet(p).filter(col("key") === victim).count() == 0)
  }

  test("batch probes discover their buckets from the manifest, not an index-wide scan") {
    val p = Files.createTempDirectory("graft_fssmanifest_").toString + "/idx"
    FastSsIndex.build(customers.filter(pmod(col("key"), lit(2)) === 0), p)
    FastSsIndex.ingest(customers.filter(pmod(col("key"), lit(2)) === 1), p, batch = 1)
    val before = BatchBuckets.discoveryScans.get()
    val manifested = probeAll(p, 1 to 1)
    assert(BatchBuckets.discoveryScans.get() == before,
      "a manifested batch probe ran the legacy index-wide bucket-discovery scan")
    val md = new org.apache.hadoop.fs.Path(BatchBuckets.dir(p))
    md.getFileSystem(spark.sessionState.newHadoopConf()).delete(md, true)
    val legacy = probeAll(p, 1 to 1)
    assert(BatchBuckets.discoveryScans.get() == before + 1,
      "the manifest-less fallback was expected to take (and count) the legacy scan")
    assert(legacy == manifested)
  }

  test("the in-memory batch probe honors the forget contract (tombstoned re-arrival stays hidden)") {
    val p = Files.createTempDirectory("graft_fssfgt_mem_").toString + "/idx"
    FastSsIndex.build(customers, p)
    val all = probeAll(p, 0 to 0)
    assume(all.nonEmpty, "fixture has at least one typo pair")
    val victim = all.head._1
    FastSsIndex.forget(spark, p,
      spark.range(victim, victim + 1).select(col("id").as("key")))
    // re-arrival via the streamed path's in-memory signatures: the
    // supplied probe side must be tombstone-filtered like the stored one
    val reArrival = customers.filter(col("key") === victim)
    val sigs = FastSsIndex.signatures(reArrival)
    FastSsIndex.ingest(reArrival, p, batch = 1)
    val pairs = EntityBlockIndex.verifyTypo(
        FastSsIndex.candidates(spark, p, batch = 1, Some(sigs)))
      .collect()
    assert(pairs.isEmpty,
      "a tombstoned entity re-arriving mid-stream must stay hidden until compaction")
  }

  test("the radius marker lands BEFORE any streamed data; marker-only dirs restart cleanly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_fss_mkfirst_").toString
    graft.StreamFixtures.oneFile(Seq(1L -> "abcdef").toDF("key", "name"),
      s"$base/src/s0.parquet", 1000000000000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("key BIGINT, name STRING")
    val streamed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = FastSsIndex.screenStream(streamed, s"$base/idx", s"$base/m", s"$base/cp", tau = 2)
    try {
      // the marker exists the moment the stream is CREATED — before any
      // trigger commits — so no crash point can leave data without it
      // (r14 ADVICE: the old afterData ordering made a restart after a
      // first-trigger crash fail loudly as a tau mismatch)
      assert(FastSsIndex.storedTau(spark, s"$base/idx") == 2)
      q.processAllAvailable()
    } finally q.stop()
    // the worst crash window is now marker-WITHOUT-data: nextBatch treats
    // a data-less marker-only dir as fresh (zero data files means zero
    // batch ids in use) instead of failing the restart's listing
    val p2 = Files.createTempDirectory("graft_fss_mkonly_").toString + "/idx"
    val pp = new org.apache.hadoop.fs.Path(p2)
    val fs = pp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(pp)
    val out = fs.create(new org.apache.hadoop.fs.Path(p2, "_graft_tau"), true)
    try out.write("2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(FastSsIndex.storedTau(spark, p2) == 2)
    assert(IndexStream.nextBatch(spark, p2) == 0,
      "a marker-only dir is the known crash window and must restart at batch 0")
    FastSsIndex.ingest(Seq(1L -> "abcdef").toDF("key", "name"), p2, batch = 0, tau = 2)
    assert(FastSsIndex.candidates(spark, p2, 0).collect().isEmpty)
  }
}
