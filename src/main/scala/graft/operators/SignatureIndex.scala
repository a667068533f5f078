package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimHash

/** Persisted simhash signature index — the production lifecycle behind
  * incremental near-duplicate dedup of a continuously-crawled corpus.
  *
  * [[graft.queries.NorthStar]]'s `d_dedup_incremental` demonstrates the
  * QUERY shape (delta-only probe side) but recomputes the base corpus's
  * signatures from text on every batch — at 100 TB that is a full-corpus
  * kernel pass per crawl increment. This operator makes the index a
  * first-class stored artifact instead:
  *
  *   - [[build]] runs the fused simhash kernel over the base corpus ONCE
  *     and writes `(doc_id, simhash, batch=0)` to parquet;
  *   - [[ingest]] kernels ONLY the new batch and appends its signatures
  *     under a monotonically increasing batch id;
  *   - [[probe]] answers "which docs of batch N are near-dups of anything
  *     ingested before them" from the STORED table alone: banding a stored
  *     signature is seven shift-and-mask ops, so neither join side touches
  *     text or the kernel — per-batch cost is O(index scan + bucket
  *     collisions) with zero re-kerneling, and the index parquet (16 bytes
  *     a doc + batch) is ~6 orders of magnitude smaller than a 100 TB
  *     corpus.
  *
  * Keep-first semantics match `d_dedup_incremental`: a batch-N doc's
  * witness (`dup_of`) is the minimum doc_id among earlier-batch matches
  * and lower-id same-batch matches; NULL if novel. With 7 bands of 9 bits
  * over the 63-bit signature, pigeonhole guarantees any pair within
  * hamming distance 6 shares at least one exact band, so the match set
  * provably equals an all-pairs scan's (the `d_simhash` argument).
  *
  * Reference analog: the manifest-driven incremental convert
  * (spectrify/convert.py:97-99, examples/weekly_partitions.py:77-129)
  * re-exports only new partitions; the signature table is the analogous
  * persisted state for dedup.
  */
object SignatureIndex {
  val Bands = 7
  val BandBits = 9

  /** `(doc_id, simhash)` from raw `(doc_id, text)` — the ONLY place the
    * text kernel runs in this lifecycle.
    */
  def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), SimHash.simhash63Occ(col("text")).as("simhash"))

  /** Kernel the base corpus once; write the index as batch 0. */
  def build(docs: DataFrame, path: String): Unit =
    signatures(docs).withColumn("batch", lit(0))
      .write.mode("overwrite").parquet(path)

  /** Kernel ONLY the delta; append its signatures as `batch`. */
  def ingest(docs: DataFrame, path: String, batch: Int): Unit =
    IndexStream.append(signatures(docs), path, batch)

  /** Forget documents — the GDPR/right-to-be-forgotten lifecycle step a
    * training-data index must support; the shared [[Tombstones]]
    * delete-vector machinery (O(deletes) per request, probes anti-join
    * the live view, physical reclamation rides the tombstone-aware
    * [[IndexMaintenance.compact]]).
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.forget(spark, path, ids)

  /** Streamed ingest of a documents stream: the fused kernel runs per
    * micro-batch (stateless — no watermark, no aggregation state) and each
    * micro-batch appends under batch = base + batchId — REAL, distinct,
    * monotone ids, so `probe(n)` can treat earlier micro-batches as index
    * side and the streamed path reaches the same delta-sized-probe cost
    * model as batch ingest.
    *
    * Sink choice, the checkpoint-pinned base offset, and the single-writer
    * contract are [[IndexStream]]'s (shared with the stored index family). A
    * recomputed base on restart would land a replayed micro-batch under a
    * fresh id — the same doc in two batches, turning at-least-once replay
    * (harmless: probe's min-witness is duplicate-insensitive) into a
    * semantic shift (the doc's earlier copy becomes index side for its
    * later one); the restart spec pins the pinned-base behavior.
    */
  def ingestStream(docs: DataFrame, path: String, checkpoint: String,
                   autoCompactFragments: Int = IndexStream.DefaultAutoCompactFragments): org.apache.spark.sql.streaming.StreamingQuery =
    IndexStream.appendWithBatchIds(signatures(docs), path, checkpoint,
      autoCompactFragments)(IndexStream.append(_, path, _))

  /** Streamed ingest AND probe — the in-flight crawl-dedup shape. Each
    * micro-batch's signatures land in the index under a real batch id
    * (the [[IndexStream]] checkpoint-pinned-base discipline), and the SAME
    * foreachBatch then answers the batch's novelty from the stored table:
    * `(doc_id, dup_of, batch)` rows append to `outPath`, `dup_of` the
    * minimum doc_id among earlier-batch matches and lower-id same-batch
    * peers, NULL for a novel doc. The crawl's dedup verdicts are available
    * the moment the increment commits — no second pass over the index.
    *
    * At-least-once replay is safe end to end: a replayed micro-batch
    * re-appends signature rows ([[probe]] is duplicate-insensitive) and
    * re-appends witness rows with IDENTICAL values — `probe(b)` filters
    * `batch <= b`, so batches ingested after the original attempt cannot
    * change a replayed verdict, and the min witness ignores row
    * multiplicity. Consumers restore set semantics with a
    * `dropDuplicates("doc_id")`, exactly the ingest queries' contract.
    */
  def probeStream(docs: DataFrame, path: String, outPath: String,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    IndexStream.appendWithBatchIds(signatures(docs), path, checkpoint,
        autoCompactFragments = 0) { (df, b) =>
      IndexStream.append(df, path, b)
      IndexStream.append(probe(docs.sparkSession, path, b), outPath, b)
    }

  // unrolled, not transform(sequence(...)): higher-order functions don't
  // codegen and would drag the banding Project out of WholeStageCodegen
  private val bandArray: Column = expr(
    (0 until Bands)
      .map(b => s"shiftright(simhash, ${b * BandBits}) & ${(1 << BandBits) - 1}")
      .mkString("array(", ", ", ")"))

  /** Band a stored signature relation — pure bit ops, no text, no kernel. */
  def banded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("simhash"), col("batch"),
      posexplode(bandArray).as(Seq("band", "bucket")))

  /** Near-dup witnesses for batch `batch`, entirely from the stored index.
    *
    * The delta's banded rows probe the visible banded index with a
    * (band, bucket) equi-join under [[IndexStream.laterMember]]. Returns
    * `(doc_id, dup_of)` for every batch-`batch` doc, dup_of NULL if novel.
    */
  def probe(spark: SparkSession, path: String, batch: Int,
            maxHamming: Int = 6): DataFrame = {
    // pigeonhole recall guarantee: hamming <= Bands-1 forces >= 1 shared
    // band. A larger maxHamming would SILENTLY lose matches the scaladoc
    // promises (pairs differing in maxHamming bits spread across all bands
    // never collide), so refuse it loudly.
    require(maxHamming < Bands,
      s"maxHamming=$maxHamming breaks the $Bands-band pigeonhole recall bound (max ${Bands - 1})")
    val idx = banded(IndexStream.visibleTo(spark, path, batch, "doc_id"))
    val matches = IndexStream.laterMember(idx.filter(col("batch") === batch), idx,
        batch, "doc_id")(
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          expr(s"bit_count(a.simhash ^ b.simhash) <= $maxHamming"))
      .groupBy(col("a.doc_id").as("doc_id"))
      .agg(min(col("b.doc_id")).as("dup_of"))
    // distinct: the probe is DUPLICATE-INSENSITIVE end to end (the min
    // witness doesn't care how many index rows repeat a signature), which
    // is what makes at-least-once appenders — a replayed streaming
    // micro-batch (st_sig_ingest), a retried batch ingest — safe without
    // any sink-side exactly-once machinery
    Tombstones.live(spark, path).filter(col("batch") === batch)
      .select(col("doc_id")).distinct()
      .join(matches, Seq("doc_id"), "left")
  }
}
