package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted PassJoin segment index — the LONG-STRING cell of the stored
  * entity-resolution family ([[FastSsIndex]] owns short strings, where
  * deletion neighborhoods are cheap; this owns addresses/titles at
  * 50-200+ chars, where they are C(L,tau) and [[PassJoin]]'s positional
  * segments cost k = tau + 1 rows per entity regardless of L), so the
  * continuous record-linkage gate screens long payloads incrementally
  * too.
  *
  * Stored rows are `(key, name, sig, bb)` — sig = the 8-byte hash of
  * (string length, segment index, segment text) from
  * [[PassJoin.segmentEntries]], bb = sig mod [[BatchBuckets.BB]] — the
  * exact layout the short-string indexes persist, so the WHOLE
  * maintenance surface (bucket manifests, tombstone forget, compaction,
  * the streamed screen under pinned batch ids) is the shared
  * [[BatchBuckets]] / [[Tombstones]] / [[IndexMaintenance]] /
  * [[IndexStream]] machinery, unchanged.
  *
  * The PROBE is where PassJoin's asymmetry shows: a batch's pairs come
  * from the batch strings' multi-match-aware probe substrings
  * ([[PassJoin.probeEntries]], constant rows per string) joined against
  * the STORED segment rows, partition-pruned to the probe entries'
  * buckets. Completeness is the pigeonhole applied by the LATER member:
  * ed(x, y) <= tau implies x contains a segment of y verbatim, so
  * probing every batch against all earlier batches (plus itself under
  * the b.key < a.key tie rule) surfaces each pair exactly once. The
  * pair fold carries keys AND names directly ([[FastSsIndex]]'s tau = 1
  * shape, deterministic MAX name pick): a PassJoin pair re-collides on
  * at most ~k segment matches — nothing like FastSS-tau=2's ~C(L,2) —
  * so the fold is output-shaped and the keys-only/name-rejoin dance
  * would buy nothing.
  *
  * Radius marker: k = tau + 1 is baked into every stored sig's (length,
  * index) context, so mixed radii silently never collide — the shared
  * [[RadiusMarker]] makes that loud at the writer instead.
  */
object PassJoinIndex {

  /** The stored row kernel: segment entries + bucket column. The ONLY
    * place the segment kernel runs in this lifecycle.
    */
  private def segsFor(ents: DataFrame, tau: Int): DataFrame =
    PassJoin.segmentEntries(ents, tau).withColumn("bb", BatchBuckets.bucket(col("sig")))

  /** Default radius: 2 — the long-string regime exists because two-edit
    * screening is infeasible there for deletion neighborhoods.
    */
  val DefaultTau = 2

  def storedTau(spark: SparkSession, path: String): Int =
    RadiusMarker.stored(spark, path, default = DefaultTau)

  /** Segment the base list once; write the index as batch 0 under the
    * `bb=` bucket layout (marker-before-data — [[FastSsIndex.build]]'s
    * crash ordering).
    */
  def build(entities: DataFrame, path: String, tau: Int = DefaultTau): Unit = {
    BatchBuckets.truncate(entities.sparkSession, path)
    RadiusMarker.write(entities.sparkSession, path, tau)
    BatchBuckets.appendBatch(segsFor(entities, tau), path, batch = 0)
  }

  /** Segment ONLY the delta; append its rows as `batch`. */
  def ingest(entities: DataFrame, path: String, batch: Int,
             tau: Int = DefaultTau): Unit = {
    RadiusMarker.validate(entities.sparkSession, path, tau, default = DefaultTau)
    BatchBuckets.appendBatch(segsFor(entities, tau), path, batch)
  }

  /** Candidate long-string pairs for batch `batch`, entirely from stored
    * state: the batch's entities ([[BatchBuckets.probe]] — supplied IN
    * MEMORY by [[screenStream]], else read back one-row-per-key from the
    * batch's bucket-pruned stored rows) generate probe substrings, which
    * equi-join the stored segment rows on the 8-byte context hash —
    * pruned to the probe ENTRIES' buckets, not the batch rows' (bounded
    * collect, <= [[BatchBuckets.BB]] ids). Normalized `(a_key, b_key,
    * a_name, b_name)`; the later-member rule surfaces each pair once and
    * the deterministic MAX fold collapses multi-segment agreement and
    * replays.
    */
  def candidates(spark: SparkSession, path: String, batch: Int,
                 batchEnts: Option[DataFrame] = None): DataFrame = {
    val tau = storedTau(spark, path)
    val p = BatchBuckets.probe(spark, path, batch, batchEnts)
    val ents = p.rows.select("key", "name")
    // the stored batch rows are k segment rows per entity: fold them to
    // one probe string per key
    val probes = PassJoin.probeEntries(if (p.held) ents else ents.dropDuplicates("key"), tau)
      .withColumn("bb", BatchBuckets.bucket(col("sig")))
    // probe-bucket pruning: bounded collect over the constant-per-entity
    // probe rows (regenerated for the join — cheaper than a persist at
    // this width)
    val buckets = probes.select("bb").distinct().collect().map(_.getInt(0))
    BatchBuckets.pair(IndexStream.laterMember(probes, p.stored(buckets), batch, "key")(
        col("a.sig") === col("b.sig")))
      .groupBy("a_key", "b_key")
      .agg(max(col("a_name")).as("a_name"), max(col("b_name")).as("b_name"))
  }

  /** Streamed ingest AND long-string screen ([[BatchBuckets.screenStream]]
    * over the segment kernel): per trigger, the batch alone is segmented
    * and appended under a real pinned batch id, then its verified pairs
    * (exact levenshtein <= tau, the shared [[EntityBlockIndex.verifyTypo]]
    * lattice) land in `outPath`. At-least-once replay safe
    * (deterministic folds, pair dedup at read).
    */
  def screenStream(entities: DataFrame, path: String, outPath: String,
                   checkpoint: String, tau: Int = DefaultTau)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    RadiusMarker.claim(entities.sparkSession, path, tau, default = DefaultTau)
    BatchBuckets.screenStream(entities, path, outPath, checkpoint)(segsFor(_, tau)) {
      (df, segs, b) =>
        EntityBlockIndex.verifyTypo(
          candidates(df.sparkSession, path, b,
            // single-evaluation discipline: the probe entities are
            // re-derived from the MATERIALIZED segment rows, never
            // from a second pass over the caller's frame
            Some(segs.select("key", "name").dropDuplicates("key"))),
          tau = tau)
    }
  }

  /** Right-to-be-forgotten: tombstone the entity ([[Tombstones]]);
    * reclamation rides [[compact]].
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.forget(spark, path, ids, idCol = "key")

  def compact(spark: SparkSession, path: String): Unit =
    BatchBuckets.compact(spark, path)
}
