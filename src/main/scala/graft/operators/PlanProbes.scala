package graft.operators

import org.apache.spark.sql.DataFrame

/** Plan-only probes shared by the persisted-artifact writers (r18). */
private[operators] object PlanProbes {

  /** Whether the OPTIMIZER reduced `df` to an empty local relation — true
    * for the `.limit(0)` / empty-slice frames callers pass for untouched
    * sides. Plan-only (never executes a job), conservatively false for
    * any frame that would need running to know — so it can only ever SKIP
    * work that is provably a no-op (an empty-side append still costs a
    * full write-job round trip per subtable per batch).
    */
  def provablyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** Bytes of `df` per extra writer task [[clusteredBy]] adds beyond the
    * bucket count — the scale knob (r19): a cluster deployment writing
    * multi-GB builds raises parallelism with data volume; the local
    * default keeps delta-sized appends at `nBuckets` writer tasks. Catalyst
    * plan-statistics bytes are uncompressed in-memory estimates, so this
    * sits well below the on-disk 128 MB-1 GB file-size goal (guide §6).
    * A value that is not a positive whole number of bytes fails with an
    * error naming the key (0 would divide by zero in [[clusteredBy]]).
    */
  private[operators] def saltTargetBytes(spark: org.apache.spark.sql.SparkSession): Long = {
    val key = "spark.graft.write.saltTargetBytes"
    spark.conf.getOption(key).fold(32L * 1024 * 1024) { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive number of bytes, got '$v'"))
    }
  }

  /** Cluster `df` by its bucket column before a partitionBy write so each
    * bucket directory receives a BOUNDED file count, without capping the
    * writer's parallelism at the bucket count (r18): a bare
    * `repartition(bucketCol)` is AQE-coalescable (measured collapsing the
    * parquet encode to 1-4 tasks); `repartition(nBuckets, bucketCol)`
    * pins the count but serializes the encode when nBuckets < cores
    * (fixture-sized NB = 8 on a 32-core box). The salted form spreads
    * big writes: rows are hashed into `nBuckets x s` partitions on
    * (bucket, salt-of-key); each (bucket, salt) combo lands in exactly
    * one partition, so files per (bucket, batch) directory <= s. Distinct
    * combos CAN collide into one partition (hash partitioning), so a
    * task may straddle buckets and effective writer parallelism runs a
    * bit below nBuckets x s (~1/e of partitions empty in the worst case)
    * — the file-count bound is what the layout depends on, and it holds
    * regardless (r18-verdict nit / ADVICE). The salt derives
    * DETERMINISTICALLY from `saltSrc` (never rand() — retried tasks must
    * reproduce the same row-to-partition map, SPARK-38388).
    *
    * The factor `s` is sized to the DATA, not the session (r19; the r18
    * form pinned `s = cores / nBuckets`, so at 32 cores every delta-sized
    * append paid a 32-task shuffle whose task overhead dwarfed its rows —
    * the measured 32c-slower-than-8c inversion on the CDC lifecycle
    * slots): one extra writer per [[saltTargetBytes]] of plan-estimated
    * bytes, capped by the session's parallelism. Small deltas get
    * `nBuckets` single-file writers at every core count; build-sized
    * writes scale up exactly as before.
    */
  /** `sizeHint`: plan-statistics bytes to size the salt from INSTEAD of
    * `df`'s own — callers whose frame is a JOIN (the view-delta appends)
    * must pass the pre-join delta sizes, because Catalyst's join size
    * estimate is a product that reads as "huge" for a KB-sized delta and
    * would pin core-scaled writers onto it (guide §3.1: "estimates are
    * often badly wrong").
    */
  def clusteredBy(df: org.apache.spark.sql.DataFrame,
                  bucketCol: org.apache.spark.sql.Column, nBuckets: Int,
                  saltSrc: org.apache.spark.sql.Column,
                  sizeHint: Option[BigInt] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val maxS = math.max(1, df.sparkSession.sparkContext.defaultParallelism / nBuckets)
    val s = if (maxS == 1) 1 else {
      val bytes = sizeHint.getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      val perBucket = BigInt(saltTargetBytes(df.sparkSession)) * nBuckets
      // ceil(bytes / (target x nBuckets)), clamped to [1, maxS]
      ((bytes + perBucket - 1) / perBucket).min(maxS).max(1).toInt
    }
    if (s == 1) df.repartition(nBuckets, bucketCol)
    else df.repartition(nBuckets * s,
      bucketCol * lit(s) + pmod(xxhash64(lit(1), saltSrc), lit(s)))
  }

  /** Plan-statistics bytes of `df` — the sizing input for [[clusteredBy]]
    * hints (scan-pruned relations carry file-size-accurate stats).
    */
  def statsBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes
}
