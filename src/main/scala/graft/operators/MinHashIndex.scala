package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BandHash, CharNgrams, MinHash}

/** Persisted MinHash band index — the Jaccard-regime cell of the
  * stored-index matrix ([[SignatureIndex]] simhash / [[SubstringIndex]]
  * windows / [[PqIndex]]+[[IvfPqIndex]] vectors), for incremental near-dup
  * detection of a continuously-crawled corpus at Jaccard >= 0.7.
  *
  * The in-query generator (`d_minhash_lsh`) runs the 192-perm fused kernel
  * over the WHOLE corpus on every run. This operator kernels each doc
  * exactly once in its lifetime instead:
  *
  *   - [[build]]/[[ingest]] run the kernel over base/delta only and store
  *     `(doc_id, n, bands, batch)` — n the distinct 5-gram count (feeds
  *     the integer-rational size prune), `bands` the 32 banded 6-row
  *     signature hashes: 32 longs + 4 bytes a doc, ~3 orders smaller than
  *     text, and sufficient for CANDIDATE generation forever after;
  *   - [[candidates]] answers "which stored pairs involving batch N might
  *     clear Jaccard 0.7" entirely from the stored table: explode the
  *     band array, equi-join (band, bucket), size-ratio prune on the
  *     stored n — no text, no kernel, cost O(index scan + bucket
  *     collisions).
  *
  * Exact verification (the candidate pairs' text join) stays OUTSIDE the
  * operator on purpose: candidates are output-shaped, so the verify stage
  * reads text for candidate docs only — the caller owns that join (see
  * NorthStar's `d_minhash_index`), keeping the stored artifact pure
  * signature state. Same recall as the inline banding (identical band
  * scheme over identical signatures); the duplicate-insensitive DISTINCT
  * on pairs makes at-least-once appenders (streamed ingest replay, retried
  * batch ingest) safe, the [[SignatureIndex.probe]] argument.
  *
  * Reference analog: the manifest-driven incremental convert
  * (spectrify/convert.py:97-99) re-exports only new partitions; the band
  * table is the analogous persisted state for Jaccard dedup.
  */
object MinHashIndex {
  val Gram = 5
  val Perms = 192
  val Bands = 32
  val RowsPerBand = 6

  /** `(doc_id, n, bands)` from raw `(doc_id, text)` — the ONLY place the
    * 192-perm kernel runs in this lifecycle.
    */
  def signatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), MinHash.ngramSig(col("text"), Gram, Perms).as("ns"))
      .select(col("doc_id"), col("ns.n").as("n"),
        BandHash.bandHashes(col("ns.sig"), Bands, RowsPerBand).as("bands"))

  /** Kernel the base corpus once; write the index as batch 0. */
  def build(docs: DataFrame, path: String): Unit =
    signatures(docs).withColumn("batch", lit(0))
      .write.mode("overwrite").parquet(path)

  /** Kernel ONLY the delta; append its band rows as `batch`. */
  def ingest(docs: DataFrame, path: String, batch: Int): Unit =
    IndexStream.append(signatures(docs), path, batch)

  /** Streamed ingest: the kernel runs per micro-batch, appended under real
    * monotone batch ids ([[IndexStream]]'s checkpoint-pinned base).
    */
  def ingestStream(docs: DataFrame, path: String, checkpoint: String,
                   autoCompactFragments: Int = IndexStream.DefaultAutoCompactFragments): org.apache.spark.sql.streaming.StreamingQuery =
    IndexStream.appendWithBatchIds(signatures(docs), path, checkpoint,
      autoCompactFragments)(IndexStream.append(_, path, _))

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs with ONE
    * shingle-array scan — THE single copy of the verifier (the query-side
    * generators in [[graft.queries.NorthStar]] delegate here): melt pairs
    * to (pair, doc_id) rows, join the corpus once (AQE broadcasts the
    * small candidate side so the corpus streams join-side-free), fold the
    * two matched arrays back per pair, keep exact Jaccard >= t.
    */
  def verifyJaccard(cand: DataFrame, corpus: DataFrame,
                    gram: Int, t: Double): DataFrame = {
    val sides = cand
      .select(struct(col("id_a"), col("id_b")).as("pair"))
      .select(col("pair"), explode(array(col("pair.id_a"), col("pair.id_b"))).as("doc_id"))
    val candShingles = corpus
      .select(col("doc_id"), CharNgrams.charNgrams(col("text"), gram).as("shingles"))
    val pairsSh = sides.join(candShingles, "doc_id")
      .groupBy("pair")
      .agg(
        first(when(col("doc_id") === col("pair.id_a"), col("shingles")), ignoreNulls = true).as("sha"),
        first(when(col("doc_id") === col("pair.id_b"), col("shingles")), ignoreNulls = true).as("shb"))
    val jac = size(array_intersect(col("sha"), col("shb"))).cast("double") /
      size(array_union(col("sha"), col("shb")))
    pairsSh
      .filter(jac >= t)
      .select(col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"),
        round(jac, 3).as("jac"))
      .orderBy("id_a", "id_b")
  }

  /** Right-to-be-forgotten for the Jaccard lifecycle: tombstone the doc in
    * BOTH artifacts — the band index (candidates stop surfacing it) and
    * the doc store (verification stops reading its text, which is the
    * part a takedown actually demands). Shared [[Tombstones]] semantics;
    * reclamation rides the tombstone-aware compact of each path.
    */
  def forget(spark: SparkSession, path: String, docStorePath: String,
             ids: DataFrame): Unit = {
    Tombstones.forget(spark, path, ids)
    Tombstones.forget(spark, docStorePath, ids)
  }

  /** Streamed ingest AND probe — the in-flight crawl Jaccard-dedup shape
    * ([[SignatureIndex.probeStream]]'s discipline in the Jaccard regime).
    * Each micro-batch: raw docs append to the DOC STORE (the crawl's
    * persisted raw corpus — exact verification must read candidate text,
    * which band signatures deliberately do not carry), signatures append
    * to the index under a real pinned batch id, then the batch's verified
    * pairs — candidates from the stored bands, exact Jaccard over the doc
    * store — land in `outPath` the moment the increment commits.
    *
    * At-least-once replay is safe end to end: replayed doc-store rows
    * dedup on doc_id at read, replayed signature rows are
    * candidate-insensitive ([[candidates]]' DISTINCT), and replayed
    * verified pairs are byte-identical (deterministic shingle Jaccard) —
    * consumers restore set semantics with dropDuplicates, the ingest
    * queries' contract.
    */
  def probeStream(docs: DataFrame, path: String, docStorePath: String,
                  outPath: String, checkpoint: String,
                  t: Double = 0.7): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    IndexStream.appendWithBatchIds(docs, path, checkpoint,
        autoCompactFragments = 0) { (df, b) =>
      df.select("doc_id", "text").write.mode("append").parquet(docStorePath)
      IndexStream.append(signatures(df), path, b)
      // persist the candidate set: it feeds both the doc-id restriction
      // and the verifier, and re-running the band join per consumer
      // would double the probe's only non-trivial stage
      val cand = candidates(spark, path, b)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // restrict the doc store to CANDIDATE ids BEFORE any shingling:
        // verifyJaccard's corpus projection computes char n-grams for
        // every row it is handed, and the store grows with every
        // increment — an unrestricted corpus side would make the Nth
        // probe pay an N-batch scan+kernel for a handful of candidates,
        // breaking the batch-sized cost model this operator exists for
        val ids = cand.select(col("id_a").as("doc_id"))
          .unionByName(cand.select(col("id_b").as("doc_id"))).distinct()
        val corpus = Tombstones.live(spark, docStorePath)
          .join(ids, Seq("doc_id"), "left_semi")
          .dropDuplicates("doc_id")
        IndexStream.append(verifyJaccard(cand, corpus, Gram, t), outPath, b)
      } finally cand.unpersist()
    }
  }

  /** Candidate near-dup pairs for batch `batch`, entirely from the stored
    * index: normalized `(id_a, id_b)` with id_a < id_b, where the pair
    * involves a batch-`batch` doc matched against earlier batches or
    * lower-id same-batch peers ([[IndexStream.laterMember]]). DISTINCT
    * folds multi-band collisions AND replayed index rows — the probe is
    * duplicate-insensitive end to end.
    */
  def candidates(spark: SparkSession, path: String, batch: Int): DataFrame = {
    val idx = IndexStream.visibleTo(spark, path, batch, "doc_id")
      .select(col("doc_id"), col("n"), col("batch"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    IndexStream.laterMember(idx.filter(col("batch") === batch), idx, batch, "doc_id")(
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          // integer-rational size prune: jac >= 0.7 bounds |A|/|B| within
          // [0.7, 1/0.7]; exact-safe, no floats
          col("a.n") * 10 >= col("b.n") * 7 && col("b.n") * 10 >= col("a.n") * 7)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
  }
}
