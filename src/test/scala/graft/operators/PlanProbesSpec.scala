package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The r19 lifecycle-overhead internals: data-sized write clustering and
  * the independent-job overlap helper.
  */
class PlanProbesSpec extends SparkSpec {

  test("clusteredBy sizes its salt to the data: delta-sized input pins " +
    "nBuckets partitions, build-sized input scales writers up") {
    import spark.implicits._
    val tiny = spark.range(100).select(pmod(col("id"), lit(4)).cast("int").as("bb"),
      col("id").as("key"))
    // delta-sized: exactly nBuckets partitions at ANY core count — the
    // r18 form pinned cores/nBuckets extra writers onto every tiny append
    assert(PlanProbes.clusteredBy(tiny, col("bb"), 4, col("key"))
      .rdd.getNumPartitions == 4)
    // build-sized (plan stats >> saltTargetBytes x nBuckets): writers
    // scale up, capped by the session's parallelism (local[4] here)
    val big = spark.range(300L * 1000 * 1000)
      .select(pmod(col("id"), lit(1)).cast("int").as("bb"), col("id").as("key"))
    val parts = PlanProbes.clusteredBy(big, col("bb"), 1, col("key"))
      .rdd.getNumPartitions
    assert(parts == spark.sparkContext.defaultParallelism,
      s"expected defaultParallelism writers for a build-sized frame, got $parts")
    // rows of one bucket never straddle (bucket, salt) partitions more
    // than s ways: distinct partition ids per bucket <= s
    val salted = PlanProbes.clusteredBy(
      spark.range(100000).select(pmod(col("id"), lit(1)).cast("int").as("bb"),
        col("id").as("key"))
        .withColumn("pad", concat_ws("", (1 to 40).map(_ => col("key").cast("string")): _*)),
      col("bb"), 1, col("key"))
    val s = salted.rdd.getNumPartitions // == salt factor when nBuckets = 1
    val perBucket = salted
      .select(col("bb"), spark_partition_id().as("p")).distinct()
      .groupBy("bb").count().agg(max("count")).collect()(0).getLong(0)
    assert(perBucket <= s, s"bucket straddles $perBucket > s=$s partitions")
  }

  test("Par runs every thunk to completion and rethrows the first failure") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    Par.run(Seq(() => { done.incrementAndGet(); () },
      null, // skipped-side slot
      () => { done.incrementAndGet(); () }))
    assert(done.get() == 2)
    val survived = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Par.run(Seq(
        () => throw new IllegalArgumentException("boom"),
        () => { Thread.sleep(50); survived.set(true) }))
    }
    assert(e.getMessage == "boom")
    // the failure did NOT cancel the sibling: no write is in flight when
    // the caller's crash handling runs
    assert(survived.get())
  }

  test("Par throws one failure and attaches every other one as suppressed") {
    val e = intercept[IllegalStateException] {
      Par.run(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(100); throw new IllegalArgumentException("second") }))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("second"))
  }

  test("saltTargetBytes must be a positive number; the error names the key") {
    val key = "spark.graft.write.saltTargetBytes"
    val s = spark.newSession()
    assert(PlanProbes.saltTargetBytes(s) == 32L * 1024 * 1024)
    s.conf.set(key, "4096")
    assert(PlanProbes.saltTargetBytes(s) == 4096L)
    for (bad <- Seq("32MB", "0")) {
      s.conf.set(key, bad)
      val e = intercept[IllegalArgumentException](PlanProbes.saltTargetBytes(s))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
