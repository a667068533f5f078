package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted deletion-neighborhood entity index — the CROSS-LENGTH cell
  * of the stored entity-resolution family ([[EntityBlockIndex]] covers
  * equal lengths via the parity pigeonhole; this covers the full edit
  * distance <= 1 contract including insert/delete typos, the most common
  * real case), so the continuous record-linkage gate screens every
  * single-edit variant.
  *
  * Blocking is FastSS at tau = 1 (Bocek, Hunt, Stiller: Fast Similarity
  * Search in Large Dictionaries, 2007 — deletion neighborhoods): an
  * entity's signature set is the name itself plus every single-character
  * deletion, each hashed to 8 bytes. Two strings are within edit
  * distance 1 iff their signature sets intersect (substitution: deleting
  * the edited position from both yields the same string; insert/delete:
  * the shorter string IS a deletion of the longer; equality: the
  * identity signature) — and a signature collision conversely implies
  * edit distance <= 2, so BLOCKS ONLY EVER CONTAIN TRUE NEAR-NEIGHBORS.
  * That last property is why FastSS replaced the first-cut PassJoin
  * positional-segment scheme (Li et al., VLDB'11) here: contiguous
  * segments degenerate under shared prefixes — on this corpus every
  * name's first-half segment is the constant "Customer#", putting the
  * WHOLE table in one block and the candidate join at ~n^2 (measured:
  * 6.5 min for the stored probe at sf0.1, vs seconds for the parity
  * family) — while a deletion signature carries all but one character
  * of the name, so no block can exceed a true ed<=2 neighborhood
  * regardless of corpus shape. The trade: L+1 signatures per entity
  * (names are short — ~19 rows of 16 bytes here) vs 2 segments, which
  * is the right trade in the name-length regime; PassJoin remains the
  * published answer for LONG strings, where deletion neighborhoods are
  * infeasible (documented, not implemented).
  *
  * Lifecycle = [[EntityBlockIndex]]'s, verbatim: build/ingest hash
  * base/delta only (each entity kerneled once; rows carry the name so
  * candidates and verification never read a source table); stored rows
  * live under a `bb=` hash-bucket layout and probes partition-prune to
  * the batch's buckets; [[screenStream]] wires a record stream through
  * ingest+probe per micro-batch under real pinned batch ids;
  * forget/compact ride the shared [[Tombstones]]/[[IndexMaintenance]]
  * machinery.
  *
  * The lifecycle is RADIUS-GENERIC (r14): every kerneling entry point
  * takes `tau` (1 = single-edit, 2 = [[signatures2]] two-edit
  * neighborhoods), the radius persists in a `_graft_tau` marker, and a
  * mixed-radius writer fails loudly — candidates/forget/compact never
  * touch the kernel, so the probe and maintenance paths are shared by
  * both radii unchanged.
  */
object FastSsIndex {

  /** The deletion-neighborhood signature hashes of `name`: identity plus
    * each single-character deletion, hashed (xxhash64 — deterministic,
    * fixed seed). Distinct-folded (a run of equal characters yields
    * equal deletions).
    */
  private val sigExpr =
    """array_distinct(concat(
      |  array(xxhash64(name)),
      |  CASE WHEN length(name) >= 1 THEN
      |    transform(sequence(1, length(name)), i ->
      |      xxhash64(concat(substring(name, 1, i - 1), substring(name, i + 1))))
      |  ELSE array() END))""".stripMargin

  /** Spread the entity rows across the session's full parallelism before
    * kerneling (r18): the corpora these kernels read are one-or-few-file
    * parquet scans, so the explode (L+1 rows per entity at tau = 1,
    * ~C(L,2) at tau = 2) and everything fused into its stage ran on 1-3
    * tasks — measured 5.8 s wall / 16.5 s task time on 3 tasks for one
    * sf0.1 build where 32 tasks finish in under a second. The shuffle
    * moved is the NARROW pre-kernel (key, name) projection, negligible
    * against the kernel's output; on a many-file production scan the
    * repartition is a cheap rebalance of the same rows.
    */
  private[operators] def spread(entities: DataFrame): DataFrame =
    entities.repartition(entities.sparkSession.sparkContext.defaultParallelism)

  /** `(key, name, sig, bb)` signature rows for `(key, name)` entities —
    * length(name) + 1 rows (minus duplicate deletions) per entity. The
    * ONLY place the signature kernel runs in this lifecycle.
    */
  def signatures(entities: DataFrame): DataFrame =
    spread(entities).select(col("key"), col("name"), explode(expr(sigExpr)).as("sig"))
      .withColumn("bb", BatchBuckets.bucket(col("sig")))

  /** The tau = 2 deletion neighborhood: identity, every single-character
    * deletion, and every two-position deletion — C(L,2) + L + 1
    * signatures (~172 at L = 18), hashed and distinct-folded. FastSS
    * completeness generalizes: ed(a, b) <= 2 implies a common member
    * (each substitution deletes its position from both sides; each
    * insert/delete deletes the extra character from the longer side —
    * <= 2 deletions per side total), while a collision conversely bounds
    * ed <= 4, so blocks remain true near-neighborhoods on any corpus
    * shape and one exact levenshtein per candidate restores precision.
    * Feasible in the SHORT-string regime only: the signature count is
    * quadratic in L (the tau = 1 long-string caveat, squared) — PassJoin
    * positional segments remain the published answer for long strings.
    */
  private val sig2Expr =
    """array_distinct(concat(
      |  array(xxhash64(name)),
      |  CASE WHEN length(name) >= 1 THEN
      |    transform(sequence(1, length(name)), i ->
      |      xxhash64(concat(substring(name, 1, i - 1), substring(name, i + 1))))
      |  ELSE array() END,
      |  CASE WHEN length(name) >= 2 THEN
      |    flatten(transform(sequence(1, length(name) - 1), i ->
      |      transform(sequence(i + 1, length(name)), j ->
      |        xxhash64(concat(substring(name, 1, i - 1),
      |                        substring(name, i + 1, j - i - 1),
      |                        substring(name, j + 1))))))
      |  ELSE array() END))""".stripMargin

  /** `(key, name, sig, bb)` rows under the tau = 2 neighborhood — the
    * kernel for edit-distance <= 2 screening ([[graft.queries.NorthStar
    * .ed2Match]] in-query; the stored/streamed cells pass `tau = 2` to
    * the radius-generic lifecycle below, same row shape by design).
    */
  def signatures2(entities: DataFrame): DataFrame =
    spread(entities).select(col("key"), col("name"), explode(expr(sig2Expr)).as("sig"))
      .withColumn("bb", BatchBuckets.bucket(col("sig")))

  /** The kernel for a given radius — tau = 1 ([[signatures]]) or tau = 2
    * ([[signatures2]]); the stored lifecycle below is radius-generic
    * because candidates/forget/compact never touch the kernel.
    */
  private def sigsFor(entities: DataFrame, tau: Int): DataFrame = tau match {
    case 1 => signatures(entities)
    case 2 => signatures2(entities)
    case t => throw new IllegalArgumentException(
      s"unsupported deletion-neighborhood radius tau=$t (1 and 2 are implemented; " +
        "beyond 2 the C(L,tau) signature count is infeasible even for names)")
  }

  /** The index's persisted radius ([[RadiusMarker]]): tau = 1 for a
    * marker-less (pre-r14) artifact, the only radius that existed.
    */
  def storedTau(spark: SparkSession, path: String): Int =
    RadiusMarker.stored(spark, path, default = 1)

  /** Hash the base master list once; write the index as batch 0 under
    * the `bb=` bucket layout.
    */
  def build(entities: DataFrame, path: String, tau: Int = 1): Unit = {
    // radius marker BEFORE the data (so mode is append into the manually
    // cleared dir, not overwrite): a crash between the two leaves
    // marker-without-data — a half-built index that fails LOUDLY on any
    // tau-mismatched writer — where data-before-marker would leave a
    // marker-less tau-2 index silently validating tau-1 writers, the
    // exact mixed-radius hole the marker closes. (A crashed build must
    // be re-run either way, the mode-overwrite family's contract.)
    BatchBuckets.truncate(entities.sparkSession, path)
    RadiusMarker.write(entities.sparkSession, path, tau)
    BatchBuckets.appendBatch(sigsFor(entities, tau), path, batch = 0)
  }

  /** Hash ONLY the delta; append its rows as `batch`. */
  def ingest(entities: DataFrame, path: String, batch: Int, tau: Int = 1): Unit = {
    RadiusMarker.validate(entities.sparkSession, path, tau, default = 1)
    BatchBuckets.appendBatch(sigsFor(entities, tau), path, batch)
  }

  /** Candidate cross-length pairs for batch `batch`, entirely from
    * stored state: the batch's signature rows ([[BatchBuckets.probe]] —
    * `batchSigs` IN MEMORY from [[screenStream]], else read back
    * bucket-pruned) equi-join the stored signatures on the 8-byte hash
    * under [[IndexStream.laterMember]], so each pair surfaces exactly
    * once. A collision implies true edit distance <= 2, so candidate
    * volume is output-shaped by construction. Normalized `(a_key, b_key,
    * a_name, b_name)`; the fold collapses multi-signature agreement and
    * replayed rows.
    */
  def candidates(spark: SparkSession, path: String, batch: Int,
                 batchSigs: Option[DataFrame] = None): DataFrame = {
    val p = BatchBuckets.probe(spark, path, batch, batchSigs)
    val tau = storedTau(spark, path)
    val idx = p.stored(p.buckets)
    val aRows = p.rows.select("key", "name", "sig")
    if (tau < 2) {
      // tau = 1: fold (keys, names) directly — a qualifying pair shares
      // at most ~2 signatures, so the fold shuffles <= 2x its output and
      // neither the collision prefilters nor the keys-only/name-rejoin
      // shape below can pay for themselves (the r16 rewrite applied them
      // at both radii and regressed this family 1.24-1.44x, judge-A/B'd:
      // d_entity_typos_index 7.26 -> 10.46 s — the O(L^2)-per-signature
      // sketch fold and the (L+1)x-input name dedup cost more than the
      // fold-width they saved). Name columns are aggregated MAX per pair
      // instead of an arbitrary surviving row, so a key ingested twice
      // under different names yields a deterministic candidate row
      // (r16 ADVICE; one-name-per-key remains the documented contract).
      BatchBuckets.pair(IndexStream.laterMember(aRows, idx, batch, "key")(
          col("a.sig") === col("b.sig")))
        .groupBy("a_key", "b_key")
        .agg(max(col("a_name")).as("a_name"), max(col("b_name")).as("b_name"))
    } else {
      // tau = 2 COLLISION-FOLD BOUND (r15 verdict task 7; the in-query
      // twin in NorthStar.fastSsCandidates measured 2.2x, the stored
      // lifecycle 2.6x): a tau = 2 collision only certifies
      // deletion-distance <= 2 per side (true ed up to 4) and a
      // qualifying pair re-collides on up to ~C(L,2) shared signatures,
      // so the pair fold shuffles far more rows than it keeps. Two
      // EXACT-SAFE prefilters run INSIDE the join before the partial
      // aggregate: length (each edit moves it <= 1) and the 64-bit
      // character-parity sketch (a substitution flips <= 2 bits,
      // insert/delete <= 1 — bucket collisions only lower the XOR
      // popcount, never a false reject). Derived per signature row at
      // probe time; the stored layout is untouched. GATED to this radius
      // only — at tau = 1 the same expressions were a measured
      // regression (see the tau = 1 branch).
      def withFeat(df: DataFrame) = df
        .withColumn("_len", length(col("name")))
        .withColumn("_chsk", expr("aggregate(split(name, ''), 0L, " +
          "(acc, c) -> acc ^ shiftleft(1L, pmod(hash(c), 64)))"))
      // the pair fold carries 8-BYTE KEYS ONLY (the in-query kernel's
      // shape): at tau = 2 a surviving pair still re-collides on many
      // signatures, so folding keys and re-joining names afterwards
      // makes the dedup exchange's width independent of string length;
      // the name pickup is two OUTPUT-sized hash joins against the
      // per-entity (key, name) projection (union of stored + in-memory
      // sides, so the probe is correct whether or not the batch's rows
      // have landed yet). LATEST BATCH WINS in the projection (max over
      // (batch, name)) so a key re-ingested under a different name reads
      // back deterministically (r16 ADVICE).
      val pairs = IndexStream.laterMember(withFeat(aRows), withFeat(idx), batch, "key")(
          col("a.sig") === col("b.sig") &&
            abs(col("a._len") - col("b._len")) <= tau &&
            expr(s"bit_count(a._chsk ^ b._chsk) <= ${2 * tau}"))
        .select(
          least(col("a.key"), col("b.key")).as("a_key"),
          greatest(col("a.key"), col("b.key")).as("b_key"))
        .dropDuplicates("a_key", "b_key")
      val held = if (p.held) Seq(p.rows.select(col("key"), col("name"))
        .withColumn("batch", lit(batch))) else Nil
      val names = (held :+ idx.select(col("key"), col("name"), col("batch")))
        .reduce(_ unionByName _)
        .groupBy("key")
        .agg(max(struct(col("batch"), col("name")))
          .getField("name").as("name"))
      pairs
        .join(names.select(col("key").as("a_key"), col("name").as("a_name")), "a_key")
        .join(names.select(col("key").as("b_key"), col("name").as("b_name")), "b_key")
    }
  }

  /** Streamed ingest AND cross-length screen ([[BatchBuckets
    * .screenStream]] over deletion-neighborhood blocking): per trigger,
    * the batch alone is hashed and appended under a real pinned batch
    * id, then its verified pairs (exact levenshtein <= tau, the shared
    * [[EntityBlockIndex.verifyTypo]] lattice) land in `outPath`.
    *
    * `emit` post-processes each trigger's verified pairs before they
    * land (given the pairs and the trigger's own batch frame — which may
    * carry EXTRA columns beyond (key, name); the kernel ignores them) —
    * the hook the streamed SCORED screen uses to persist an attribute
    * projection and apply the Fellegi-Sunter lattice per trigger without
    * duplicating this method's ingest/probe/crash discipline. Must be
    * deterministic per (pairs, batch) for the replay contract.
    */
  def screenStream(entities: DataFrame, path: String, outPath: String,
                   checkpoint: String, tau: Int = 1,
                   emit: (DataFrame, DataFrame) => DataFrame = (pairs, _) => pairs)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    RadiusMarker.claim(entities.sparkSession, path, tau, default = 1)
    BatchBuckets.screenStream(entities, path, outPath, checkpoint)(sigsFor(_, tau)) {
      (df, sigs, b) =>
        emit(EntityBlockIndex.verifyTypo(
          candidates(df.sparkSession, path, b, Some(sigs)), tau = tau), df)
    }
  }

  /** Right-to-be-forgotten: tombstone the entity ([[Tombstones]]);
    * reclamation rides [[compact]].
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.forget(spark, path, ids, idCol = "key")

  /** Merge fragment files and reclaim tombstoned rows
    * ([[BatchBuckets.compact]]).
    */
  def compact(spark: SparkSession, path: String): Unit =
    BatchBuckets.compact(spark, path)
}
