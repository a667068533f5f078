package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}

/** Shared foreachBatch append discipline for streaming into a persisted
  * index ([[SignatureIndex]], [[SubstringIndex]], [[MinHashIndex]],
  * [[EntityBlockIndex]], [[FastSsIndex]], [[PassJoinIndex]],
  * [[AggIndex]]): plain batch writer (the streaming file sink's
  * `_spark_metadata` manifest would make the directory private to the
  * sink and hide batch-API appends from every later read), with a REAL
  * monotone batch id per micro-batch —
  * batch = base + batchId, where base continues the stored sequence and is
  * pinned to the CHECKPOINT lifetime via a marker beside the offsets log.
  *
  * The marker is resolved through the Hadoop FS of the checkpoint URI, so
  * a remote (hdfs://, s3a://) checkpoint keeps the restart guarantee: a
  * restarted query replays an uncommitted micro-batch under its ORIGINAL
  * batchId, and the pinned base lands that replay under its original
  * BATCH id — at-least-once appends stay idempotent in the index's
  * semantics (every probe is duplicate-insensitive; AggIndex dedups on
  * (keys, batch) at read).
  *
  * Writer contract (shared by every index): while a stream checkpoint is
  * live, the stream is the path's only appender; batch and stream appends
  * compose safely in SEQUENCE, each new checkpoint re-reading the stored
  * max batch.
  *
  * The join views ([[JoinView]], [[StarView]]) stream through
  * [[exactlyOnce]] instead: their rows are not duplicate-insensitive, so
  * the same pinned ids are guarded by an applied marker and the commit
  * ledger's writer line.
  */
private[operators] object IndexStream {

  /** The next free batch id in a stored index — max(batch) + 1, or 0 for a
    * fresh/empty path: the monotone base offset a streamed appender adds to
    * its micro-batch ids so stream batches continue the batch-API sequence.
    *
    * READ-ONLY by design (ADVICE r10): this is called from probe/read-side
    * paths that may race a live in-stream compaction, so it must never run
    * [[IndexMaintenance.recover]]'s destructive renames itself — a reader
    * could delete the writer's fully-written tmp mid-swap. A stranded
    * crashed-swap state (live dir missing, tmp/trash remnants present)
    * fails LOUDLY instead of reading as "fresh index" and handing out
    * batch 0; writer entry points ([[appendWithBatchIds]],
    * [[IndexMaintenance.compact]]) heal it first.
    *
    * Consults the [[IndexMaintenance.MaxBatchMarker]] sidecar too: a
    * tombstone-aware compaction may have reclaimed every row of the
    * highest batch, and its id must never be re-issued.
    */
  def nextBatch(spark: SparkSession, path: String): Int = {
    val dataMax: Option[Int] =
      try {
        val r = spark.read.parquet(path).agg(max("batch")).first()
        if (r.isNullAt(0)) None else Some(r.getInt(0))
      } catch {
        // ONLY a genuinely absent path means "fresh index". Any other
        // analysis failure — corrupt footer, missing batch column — must
        // fail loudly: starting over at base 0 would hand out batch ids an
        // existing half-written index already uses, silently corrupting
        // the same-batch witness rule.
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          if (IndexMaintenance.crashRemnants(spark, path))
            throw new IllegalStateException(
              s"stranded crashed-compaction state at $path: the live directory is " +
                "absent but .compact_tmp/.compact_trash remnants exist. Refusing to " +
                "answer batch 0 for a non-fresh index; heal via a writer entry point " +
                "(IndexMaintenance.recover / compact / a restarted ingest stream).")
          None
        // A dir holding ONLY underscore sidecars (no data file at all) is
        // the known marker-before-data crash window of the radius-marked
        // indexes' ([[FastSsIndex]], [[PassJoinIndex]]) build/streamed
        // entry points (r14 ADVICE: the `_graft_tau` radius marker lands
        // first so a tau-mismatched writer fails loudly even on a
        // half-built index). Zero data files means zero batch ids in
        // use — answering from the max-batch marker alone (or 0) cannot
        // collide with data. The data-file listing is the defense against
        // mistaking a CORRUPT-footer failure for this window: any data
        // file present keeps the loud failure.
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" &&
              !IndexMaintenance.crashRemnants(spark, path) &&
              IndexMaintenance.dataFileCount(spark, path) == 0 =>
          None
      }
    val markerMax = IndexMaintenance.readMaxBatchMarker(spark, path)
    (dataMax ++ markerMax).reduceOption(_ max _).map(_ + 1).getOrElse(0)
  }

  /** The rows of `path` a probe of batch `batch` sees: the live rows
    * ([[Tombstones.live]], anti-joined on `idCol`) of batches <= `batch`
    * — THE one read of every stored similarity index's probe. The bound
    * is filtered up front because [[laterMember]]'s condition is a
    * disjunction the optimizer cannot push into the scan: without it a
    * historical-batch probe would read, explode and shuffle every LATER
    * batch's rows only to drop them in the join.
    */
  def visibleTo(spark: SparkSession, path: String, batch: Int, idCol: String): DataFrame =
    Tombstones.live(spark, path, idCol).filter(col("batch") <= batch)

  /** The later-member join of a probe of batch `batch`: `probe` (the
    * batch's rows, aliased `a`) against `stored` (rows [[visibleTo]] the
    * probe, aliased `b`) under the caller's `on` — its equi-keys and any
    * extra predicates — plus the rule that surfaces each pair exactly
    * once, when its later member arrives: `b` comes from an earlier
    * batch, or from the same batch with a lower `idCol`. Never the same
    * id: a record re-ingested under a later batch (an upstream that sent
    * it twice) must not match its own earlier copy. The SHUFFLE_HASH
    * hint makes the batch-sized probe side the hash-build side
    * (broadcasting the stored side would ship the whole index to every
    * task); AQE splits skewed keys at runtime.
    */
  def laterMember(probe: DataFrame, stored: DataFrame, batch: Int, idCol: String)
                 (on: Column): DataFrame = {
    val (a, b) = (col(s"a.$idCol"), col(s"b.$idCol"))
    probe.hint("SHUFFLE_HASH").as("a").join(stored.as("b"),
      on && a =!= b && (col("b.batch") < batch || (col("b.batch") === batch && b < a)))
  }

  /** Append `rows` to `path` under batch id `batch` — the plain append of
    * the duplicate-insensitive indexes and of their probe outputs.
    */
  def append(rows: DataFrame, path: String, batch: Int): Unit =
    rows.withColumn("batch", lit(batch)).write.mode("append").parquet(path)

  /** Whether this checkpoint already has a pinned base — i.e. it is a
    * RESUMED checkpoint, not a fresh one. Callers use this to
    * distinguish replay (safe) from a fresh stream pointed at an
    * existing artifact (where orphaned uncommitted state must be
    * surfaced, not silently re-ingested — AggIndex's guard).
    */
  def baseMarkerExists(rows: DataFrame, checkpoint: String): Boolean = {
    val markerPath = new org.apache.hadoop.fs.Path(checkpoint, "graft_base_batch")
    markerPath.getFileSystem(rows.sparkSession.sessionState.newHadoopConf())
      .exists(markerPath)
  }

  /** Resolve the base batch id for a checkpoint: the marker beside the
    * offsets log if one exists (a restarted query MUST reuse its original
    * base), else `nextBatch` — written to the marker so every restart of
    * this checkpoint sees the same value. `nextBatch` is evaluated lazily,
    * only when no marker exists yet.
    */
  def pinnedBase(rows: DataFrame, nextBatch: => Int, checkpoint: String): Int = {
    val markerPath = new org.apache.hadoop.fs.Path(checkpoint, "graft_base_batch")
    Ledger.readInt(rows.sparkSession, markerPath).getOrElse {
      val b = nextBatch
      // first writer wins, not Ledger.write: two starts racing on one
      // checkpoint must not both win — the loser fails here
      Ledger.writeOnce(rows.sparkSession, markerPath, b.toString)
      b
    }
  }

  /** The checkpoint-local applied marker of [[exactlyOnce]]: the highest
    * foreachBatch id this checkpoint committed, -1 before the first.
    */
  private def appliedMarker(checkpoint: String) =
    new org.apache.hadoop.fs.Path(checkpoint, "graft_applied_batchid")

  def readApplied(spark: SparkSession, checkpoint: String): Long =
    Ledger.readInt(spark, appliedMarker(checkpoint)).fold(-1L)(_.toLong)

  private def writeApplied(spark: SparkSession, checkpoint: String, batchId: Long): Unit =
    Ledger.write(spark, appliedMarker(checkpoint), batchId.toString)

  /** Stream `rows` into a ledgered view root ([[ViewStore]]): each
    * micro-batch runs `apply(rows, batch)` under a REAL pinned batch id
    * (base + foreachBatch id, the [[pinnedBase]] discipline), and `apply`
    * must commit that id to the root's ledger with this checkpoint as the
    * writer. Exactly-once is carried by TWO markers, because view rows
    * are not duplicate-insensitive:
    *  - the checkpoint-local applied marker (highest foreachBatch id
    *    this checkpoint committed) makes replays definite no-ops;
    *  - the ledger's writer line closes the crash window between
    *    the ledger commit and the applied-marker write (batch committed by
    *    THIS checkpoint -> no-op; committed by anyone else -> the id
    *    space was taken while the stream was stopped, and silently
    *    no-opping would DROP this micro-batch's data — fail loudly and
    *    direct the operator to a fresh checkpoint instead).
    */
  def exactlyOnce(rows: DataFrame, root: String, checkpoint: String)
                 (apply: (DataFrame, Int) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        val spark = batchDf.sparkSession
        val base = pinnedBase(batchDf, ViewStore.committed(spark, root) + 1, checkpoint)
        if (batchId > readApplied(spark, checkpoint)) {
          val b = base + batchId.toInt
          val (c, w) = ViewStore.ledger(spark, root)
          if (b == c + 1) {
            apply(batchDf, b)
            writeApplied(spark, checkpoint, batchId)
          } else if (b == c && w.contains(checkpoint)) {
            // crash window: we committed b, lost the applied-marker write
            writeApplied(spark, checkpoint, batchId)
          } else {
            throw new IllegalStateException(
              s"view ledger at $c (writer ${w.getOrElse("?")}) " +
                s"but this checkpoint's pinned id space expects batch $b — the view " +
                "was advanced outside this checkpoint while it was stopped; a silent " +
                "no-op would drop this micro-batch. Restart with a FRESH checkpoint " +
                "(the view data itself is intact).")
          }
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Auto-compaction threshold for streamed ingest: when a micro-batch
    * append leaves more than this many data files, the index is compacted
    * in place before the batch commits. 64 fragments keeps a probe's
    * footer-read bill bounded while amortizing each rewrite over ~64
    * ingests (the measured payback is ~2-5 probes per compaction,
    * SCALE.md); 0 disables the policy.
    */
  val DefaultAutoCompactFragments = 64

  /** Start a stream over `rows` whose every micro-batch runs `land(df, b)`
    * — the index append and whatever the trigger answers from it — under
    * the REAL pinned batch id b = base + batchId. THE one wiring of the
    * discipline: heal a crashed swap, pin the base (this index's
    * [[nextBatch]] on a fresh checkpoint), then stream.
    *
    * Self-maintenance: a long-lived micro-batch stream accretes one file
    * (or more) per trigger, and nobody schedules a maintenance window for
    * an index that never stops ingesting. Inside foreachBatch this stream
    * IS the path's single writer and appends are serialized — exactly the
    * writer contract [[IndexMaintenance.compact]] demands — so when the
    * post-append fragment count exceeds `autoCompactFragments` (0
    * disables the policy) the batch compacts the index before committing.
    * Rows (batch ids included) are invariant under compaction, so replay
    * semantics and probe answers are untouched; a crash mid-swap heals
    * via [[IndexMaintenance.recover]] at the head of this method and the
    * other writer entry points (a complete copy of the table survives
    * every window of the swap order; read-side callers fail loudly
    * instead of healing — ADVICE r10).
    * Listing cost (the object-store residual, VERDICT r10 task 7): the
    * threshold is tested against a RUNNING FILE COUNTER, not a recursive
    * listing per trigger — one exact listing at stream start seeds the
    * counter, each trigger adds an upper bound on the files a plain
    * `land` append wrote (at most one per partition of the micro-batch;
    * empty partitions write none), and an exact listing re-runs ONLY when
    * the estimate crosses the threshold (then either compacts, or corrects
    * the estimate downward and moves on). The estimate never
    * UNDER-counts, so compaction fires no later than the old
    * per-trigger-listing policy — the IndexMaintenanceSpec file bound is
    * unchanged — while a stream that accretes K files per compaction
    * cycle pays ~1/K listings per trigger. Concurrent READERS of
    * a live-compacting index see the same delete+rename window as manual
    * compaction (scaladoc there) — an object-store deployment would flip
    * a versioned pointer instead.
    */
  def appendWithBatchIds(rows: DataFrame, path: String, checkpoint: String,
                         autoCompactFragments: Int)(land: (DataFrame, Int) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = rows.sparkSession
    // heal a crashed in-stream compaction BEFORE anything reads or appends:
    // a restarted stream's first append would otherwise recreate a live dir
    // holding only the replayed micro-batch, silently truncating the index
    // (nextBatch itself is read-only and must not — ADVICE r10)
    IndexMaintenance.recover(spark, path)
    val base = pinnedBase(rows, nextBatch(spark, path), checkpoint)
    // seeded by the stream's ONE up-front exact listing; driver-side state
    // scoped to this query (restarts re-seed with a fresh listing)
    val estFiles = new java.util.concurrent.atomic.AtomicInteger(
      if (autoCompactFragments > 0) IndexMaintenance.dataFileCount(spark, path)
      else 0)
    rows.writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        land(df, base + batchId.toInt)
        if (autoCompactFragments > 0) {
          val est = estFiles.addAndGet(math.max(1, df.rdd.getNumPartitions))
          if (est > autoCompactFragments) {
            val exact = IndexMaintenance.dataFileCount(df.sparkSession, path)
            if (exact > autoCompactFragments) {
              IndexMaintenance.compact(df.sparkSession, path)
              estFiles.set(IndexMaintenance.dataFileCount(df.sparkSession, path))
            } else estFiles.set(exact)
          }
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
