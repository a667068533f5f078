package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.RollingHash

/** Persisted rolling-hash window index — [[SignatureIndex]]'s stored-
  * artifact discipline applied to SUBSTRING-level dedup (Lee et al. 2022
  * EXACTSUBSTR). The in-plan query (`d_substring_dedup`) runs the
  * [[graft.functions.RollingHash]] kernel over the whole corpus on every
  * run — twice, once per side of its dup-hash groupBy+join — which at
  * 100 TB is two full-corpus kernel passes per crawl increment. This
  * operator persists the exploded `(doc_id, off, h61, batch)` triples
  * instead:
  *
  *   - [[build]] kernels the base corpus ONCE (batch 0);
  *   - [[ingest]] kernels ONLY a new batch and appends its triples;
  *   - [[probe]] answers "which spans of batch N's docs are duplicated
  *     against anything ingested at-or-before batch N" from the STORED
  *     table alone — both the dup-hash aggregate and the span merge read
  *     16-byte triple rows, no kernel, no text.
  *
  * A window of a batch-N doc is duplicated iff its hash occurs in >1
  * distinct doc among batches <= N (the probed doc itself accounts for
  * one, so >1 means "some OTHER document shares the span" — exactly
  * `d_substring_dedup`'s cross-document criterion restricted to the
  * visible batches). Marked offsets merge into maximal spans with the
  * same per-doc gaps-and-islands window as the in-plan query.
  *
  * Replay safety: an at-least-once appender (a retried ingest) duplicates
  * triple rows; `probe` is duplicate-insensitive — COUNT(DISTINCT doc_id)
  * ignores repeats and the marked set is DISTINCT'd before the span merge.
  * Contract: a doc's triples live under exactly ONE batch id (same as the
  * signature index).
  *
  * Reference analog: incremental partition export
  * (examples/weekly_partitions.py:77-129) — persisted per-increment state
  * instead of whole-corpus recompute.
  */
object SubstringIndex {

  /** `(doc_id, off, h)` window triples — the ONLY kernel site in this
    * lifecycle.
    */
  def windows(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(RollingHash.windowHashes(col("text"), w)).as(Seq("off", "h")))

  /** Kernel the base corpus once; write triples as batch 0. */
  def build(docs: DataFrame, path: String, w: Int): Unit =
    windows(docs, w).withColumn("batch", lit(0))
      .write.mode("overwrite").parquet(path)

  /** Kernel ONLY the delta; append its triples as `batch`. */
  def ingest(docs: DataFrame, path: String, batch: Int, w: Int): Unit =
    IndexStream.append(windows(docs, w), path, batch)

  /** Streamed ingest: the rolling-hash kernel runs per micro-batch
    * (stateless) and each micro-batch's triples append under a REAL
    * monotone batch id — sink choice, checkpoint-pinned base offset, and
    * the single-writer contract are [[IndexStream]]'s, shared with the
    * stored index family. probe() is duplicate-insensitive, so at-least-once
    * replays are safe by construction.
    */
  def ingestStream(docs: DataFrame, path: String, checkpoint: String, w: Int,
                   autoCompactFragments: Int = IndexStream.DefaultAutoCompactFragments): org.apache.spark.sql.streaming.StreamingQuery =
    IndexStream.appendWithBatchIds(windows(docs, w), path, checkpoint,
      autoCompactFragments)(IndexStream.append(_, path, _))

  /** Right-to-be-forgotten for the window-triple index — shared
    * [[Tombstones]] delete-vector semantics: forgotten docs' triples
    * vanish from every probe's live view (their spans stop witnessing
    * duplication), reclamation rides the tombstone-aware compact.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.forget(spark, path, ids)

  /** Streamed ingest AND probe — the substring twin of
    * [[SignatureIndex.probeStream]]: each micro-batch's window triples
    * land under a real checkpoint-pinned batch id and the same
    * foreachBatch immediately answers "which spans of THIS increment are
    * duplicated against anything ingested so far" from the stored table,
    * appending `(doc_id, span_start, span_end, n_windows, batch)` rows to
    * `outPath` — in-flight boilerplate/contamination-span detection for a
    * crawl. Replay-safe: [[probe]] is duplicate-insensitive (distinct'd
    * marks, COUNT(DISTINCT) dup rule) and filters `batch <= b`, so a
    * replayed micro-batch re-appends value-identical span rows; consumers
    * restore set semantics with dropDuplicates.
    */
  def probeStream(docs: DataFrame, path: String, outPath: String,
                  checkpoint: String, w: Int): org.apache.spark.sql.streaming.StreamingQuery =
    IndexStream.appendWithBatchIds(windows(docs, w), path, checkpoint,
        autoCompactFragments = 0) { (df, b) =>
      IndexStream.append(df, path, b)
      IndexStream.append(probe(docs.sparkSession, path, b, w), outPath, b)
    }

  /** Maximal duplicated spans `(doc_id, span_start, span_end, n_windows)`
    * for batch `batch`'s docs, entirely from the stored index.
    *
    * The dup-hash aggregate is a map-side-partial groupBy over batches
    * <= `batch` (a boilerplate hash hot in half the corpus is ordinary
    * join-key skew for AQE); the batch filter prunes later batches out of
    * the scan before any shuffle, so a historical probe never pays for
    * data ingested after it.
    */
  def probe(spark: SparkSession, path: String, batch: Int, w: Int): DataFrame = {
    val win = IndexStream.visibleTo(spark, path, batch, "doc_id")
    val dup = win.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("h")
    val marked = win.filter(col("batch") === batch)
      .join(dup, "h")
      .select("doc_id", "off")
      // duplicate-insensitivity: replayed appends repeat (doc_id, off)
      // rows, which would corrupt the row_number islands below
      .distinct()
    val wn = Window.partitionBy("doc_id").orderBy("off")
    marked
      .withColumn("grp", col("off") - row_number().over(wn))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("off").cast("long").as("span_start"),
        (max("off") + (w - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }
}
