package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The persisted entity-block lifecycle (r12 verdict task 1): each entity
  * is blocked (kerneled) exactly once in its lifetime, candidates come
  * entirely from stored state — never a master re-read or re-kernel —
  * and the incremental pair set equals the one-shot all-pairs match.
  */
class EntityBlockIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def customers = Tables.load(spark, sfDir, "customer")
    .select(col("c_custkey").as("key"), col("c_name").as("name"))

  /** Brute-force truth: every pair within levenshtein 1 at equal length
    * (the parity-pigeonhole contract), all-pairs.
    */
  private def bruteForce(ents: DataFrame): Set[(Long, Long, Long)] = {
    val a = ents.as("a"); val b = ents.as("b")
    a.join(b, col("a.key") < col("b.key") &&
        length(col("a.name")) === length(col("b.name")))
      .select(col("a.key").as("a_key"), col("b.key").as("b_key"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("a_key"), r.getAs[Long]("b_key"),
      r.getAs[Long]("dist"))).toSet

  test("incremental probe over a 3-way split equals the brute-force all-pairs match") {
    val p = Files.createTempDirectory("graft_entidx_").toString + "/idx"
    EntityBlockIndex.build(customers.filter(pmod(col("key"), lit(3)) === 0), p)
    EntityBlockIndex.ingest(customers.filter(pmod(col("key"), lit(3)) === 1), p, batch = 1)
    EntityBlockIndex.ingest(customers.filter(pmod(col("key"), lit(3)) === 2), p, batch = 2)
    val inc = (0 to 2).map(b =>
        EntityBlockIndex.verifyTypo(EntityBlockIndex.candidates(spark, p, b)))
      .reduce(_ unionByName _).dropDuplicates("a_key", "b_key")
    assert(pairsOf(inc) == bruteForce(customers))
  }

  test("candidates read ONLY stored state: no kernel in the plan, source deletable") {
    val src = Files.createTempDirectory("graft_entsrc_").toString + "/master"
    customers.write.parquet(src)
    val p = Files.createTempDirectory("graft_entidx_src_").toString + "/idx"
    EntityBlockIndex.build(spark.read.parquet(src), p)

    // the blocking kernel (split/transform over the name) must appear in
    // NO probe plan — the stored (part, v, len, name) rows are sufficient
    val plan = EntityBlockIndex.candidates(spark, p, batch = 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("split(name") && !plan.contains("transform("),
      s"probe plan re-runs the blocking kernel:\n$plan")

    // and the source master list is never re-read: delete it, probe anyway
    val sp = new org.apache.hadoop.fs.Path(src)
    sp.getFileSystem(spark.sessionState.newHadoopConf()).delete(sp, true)
    val pairs = pairsOf(EntityBlockIndex.verifyTypo(
      EntityBlockIndex.candidates(spark, p, batch = 0)))
    assert(pairs == bruteForce(customers))
  }

  test("streamed screen blocks each entity once and matches the one-shot run") {
    val base = Files.createTempDirectory("graft_entstream_").toString
    for (sl <- 0 to 2)
      graft.StreamFixtures.oneFile(customers.filter(pmod(col("key"), lit(3)) === sl),
        s"$base/src/s$sl.parquet", 1000000000000L + sl * 60000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key BIGINT, name STRING")
    val streamed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val jobs = JobCount.of(spark) {
      val q = EntityBlockIndex.screenStream(
        streamed, s"$base/idx", s"$base/matches", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
    }
    assert(jobs == 39, s"the streamed screen's start and three triggers ran $jobs Spark jobs, not 39")

    val matches = spark.read.parquet(s"$base/matches")
      .dropDuplicates("a_key", "b_key")
    assert(pairsOf(matches) == bruteForce(customers))

    // each entity was blocked exactly once in its lifetime: the stored
    // index holds 2 rows (two parity classes) per entity and nothing
    // more — the pre-r13 shape would have re-appended master blocks
    // every trigger
    val stored = spark.read.parquet(s"$base/idx")
    assert(stored.count() == 2L * customers.count(),
      "index must hold exactly two block rows per entity — a larger count " +
        "means the master list was re-kerneled")
    // and batch ids are real: one per trigger
    assert(stored.select("batch").distinct().count() == 3)
  }

  test("a small batch's probe is partition-pruned to its bb= buckets") {
    val p = Files.createTempDirectory("graft_entprune_").toString + "/idx"
    EntityBlockIndex.build(customers, p) // master spans many of BB buckets
    val one = customers.limit(1)
    EntityBlockIndex.ingest(one, p, batch = 1)
    val nb = spark.read.parquet(p).select("bb").distinct().count()
    assert(nb > 8, s"master must span many buckets for the pin to bite (got $nb)")
    val scans = fileScans(EntityBlockIndex.candidates(spark, p, batch = 1))
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      assert(scan.partitionFilters.exists(_.toString.contains("bb")),
        s"index scan not bucket-pruned: ${scan.partitionFilters}")
      // one entity -> two parity blocks -> at most 2 surviving buckets
      assert(scan.selectedPartitions.partitionCount <= 2,
        s"expected <=2 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    }
  }

  test("forget hides an entity from probes; compact reclaims and preserves answers") {
    val p = Files.createTempDirectory("graft_entfgt_").toString + "/idx"
    EntityBlockIndex.build(customers.filter(pmod(col("key"), lit(2)) === 0), p)
    EntityBlockIndex.ingest(customers.filter(pmod(col("key"), lit(2)) === 1), p, batch = 1)
    val all = (0 to 1).map(b =>
        EntityBlockIndex.verifyTypo(EntityBlockIndex.candidates(spark, p, b)))
      .reduce(_ unionByName _).dropDuplicates("a_key", "b_key")
    val somePair = pairsOf(all).headOption
    assume(somePair.nonEmpty, "fixture has at least one typo pair")
    val victim = somePair.get._1

    EntityBlockIndex.forget(spark, p,
      spark.range(victim, victim + 1).select(col("id").as("key")))
    def pairsNow() = (0 to 1).map(b =>
        EntityBlockIndex.verifyTypo(EntityBlockIndex.candidates(spark, p, b)))
      .reduce(_ unionByName _).dropDuplicates("a_key", "b_key")
    val afterForget = pairsOf(pairsNow())
    assert(!afterForget.exists(t => t._1 == victim || t._2 == victim),
      "a forgotten entity must stop surfacing in candidates immediately")
    assert(afterForget == bruteForce(customers.filter(col("key") =!= victim)))

    EntityBlockIndex.compact(spark, p)
    assert(pairsOf(pairsNow()) == afterForget,
      "tombstone reclamation must not change probe answers")
    assert(spark.read.parquet(p).filter(col("key") === victim).count() == 0,
      "compact must physically reclaim the forgotten entity's rows")
  }

  test("batch probes discover their buckets from the manifest, not an index-wide scan") {
    val p = Files.createTempDirectory("graft_entmanifest_").toString + "/idx"
    EntityBlockIndex.build(customers.filter(pmod(col("key"), lit(2)) === 0), p)
    EntityBlockIndex.ingest(customers.filter(pmod(col("key"), lit(2)) === 1), p, batch = 1)
    val before = BatchBuckets.discoveryScans.get()
    val manifested = pairsOf(EntityBlockIndex.verifyTypo(
      EntityBlockIndex.candidates(spark, p, batch = 1)))
    assert(BatchBuckets.discoveryScans.get() == before,
      "a manifested batch probe ran the legacy index-wide bucket-discovery scan")
    // a pre-r14 artifact (no manifest) falls back to the counted legacy
    // scan and must return the SAME answers
    val md = new org.apache.hadoop.fs.Path(BatchBuckets.dir(p))
    md.getFileSystem(spark.sessionState.newHadoopConf()).delete(md, true)
    val legacy = pairsOf(EntityBlockIndex.verifyTypo(
      EntityBlockIndex.candidates(spark, p, batch = 1)))
    assert(BatchBuckets.discoveryScans.get() == before + 1,
      "the manifest-less fallback was expected to take (and count) the legacy scan")
    assert(legacy == manifested)
  }

  test("the in-memory batch probe honors the forget contract (tombstoned re-arrival stays hidden)") {
    val p = Files.createTempDirectory("graft_entfgt_mem_").toString + "/idx"
    EntityBlockIndex.build(customers, p)
    val all = pairsOf(EntityBlockIndex.verifyTypo(
      EntityBlockIndex.candidates(spark, p, batch = 0)))
    assume(all.nonEmpty, "fixture has at least one typo pair")
    val victim = all.head._1
    EntityBlockIndex.forget(spark, p,
      spark.range(victim, victim + 1).select(col("id").as("key")))
    // the victim re-arrives in a micro-batch: the streamed screen path
    // appends it and probes with the IN-MEMORY blocks — the supplied
    // probe side must be anti-joined against the tombstones exactly like
    // the stored path, so no pair involving the victim surfaces until
    // the tombstone retires (r13 ADVICE)
    val reArrival = customers.filter(col("key") === victim)
    val blk = EntityBlockIndex.blocks(reArrival)
    EntityBlockIndex.ingest(reArrival, p, batch = 1)
    val pairs = pairsOf(EntityBlockIndex.verifyTypo(
      EntityBlockIndex.candidates(spark, p, batch = 1, Some(blk))))
    assert(pairs.isEmpty,
      "a tombstoned entity re-arriving mid-stream must stay hidden until compaction")
  }

  test("rebuild truncates stale buckets even under dynamic partitionOverwriteMode") {
    import spark.implicits._
    // r14 ADVICE: the old mode-overwrite write relied on STATIC
    // partitionOverwriteMode semantics (whole-dir truncate); under
    // `dynamic`, a rebuild overwrote only the new build's bb= partitions,
    // leaving stale buckets the fresh manifest no longer names — probes
    // would silently miss rows the legacy scan would have found
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val p = Files.createTempDirectory("graft_entidx_dyn_").toString + "/idx"
      EntityBlockIndex.build(Seq(1L -> "abcdef", 2L -> "Xbcdef").toDF("key", "name"), p)
      EntityBlockIndex.build(Seq(10L -> "qrstuv").toDF("key", "name"), p)
      val keys = spark.read.parquet(p).select("key").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(keys == Set(10L),
        s"rebuild left stale rows from the previous build: $keys")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }
}
