package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-SQ — the remaining cell of the stored-quantizer matrix: the coarse
  * inverted file ([[IvfPqIndex]]'s `list=` partition layout and frozen
  * global centroids) wrapping SCALAR-quantized codes ([[SqIndex]]'s
  * per-dimension int8 against one frozen scale) instead of product codes.
  * FAISS's `IVF{K},SQ8` factory string — the variant a retrieval stack
  * picks when it wants IVF's sub-linear probe cost AND per-dimension
  * resolution (PQ's codebook approximation loses recall on hard
  * distributions; float vectors are 4x the bytes).
  *
  * Composition is strictly reuse — coarse assignment, list pick, and the
  * partition-pruned probe shape come from IvfPqIndex; encoding, the
  * `_scale` sidecar, and the exact-BIGINT ranking come from SqIndex — so
  * neither lattice can drift from its family's single copy. Determinism:
  * the in-list ranking has ZERO float surface (SQ8's contract); only the
  * coarse assignment uses the family's 9-dp cosine lattice.
  *
  * At 100 TB: a probe reads ~nProbe/K of a dim-bytes-a-vector table —
  * partition pruning at planning time, no embedding column, integer
  * scoring. Ingest encodes deltas against BOTH frozen quantizers
  * (O(delta), rows land in the right `list=` directory); forget rides
  * the shared vec_id delete vectors; compaction preserves the `list=`
  * layout and the `_scale` sidecar (IndexMaintenance's sidecar rescue).
  */
object IvfSqIndex {

  /** Assign + encode; the code table `(vec_id, codes)` partitioned by
    * coarse list, plus the `_scale` sidecar.
    */
  def build(emb: DataFrame, cents: Array[(Long, Seq[Float])], scale: Double,
            path: String): Unit = {
    codeTable(emb, cents, scale)
      .write.partitionBy("list").mode("overwrite").parquet(path)
    SqIndex.writeScale(emb.sparkSession, scale, path)
  }

  private def codeTable(emb: DataFrame, cents: Array[(Long, Seq[Float])],
                        scale: Double): DataFrame =
    emb.withColumn("list", IvfPqIndex.coarseList(cents))
      .select(col("vec_id"), col("list"), SqIndex.encodeCol(scale).as("codes"))

  /** Encode ONLY a delta against the FROZEN centroids + scale; append into
    * the same `list=` directories — per-crawl cost is delta-sized and
    * partition pruning keeps working unchanged.
    */
  def ingest(emb: DataFrame, cents: Array[(Long, Seq[Float])], path: String): Unit = {
    val scale = SqIndex.readScale(emb.sparkSession, path)
    codeTable(emb, cents, scale)
      .write.partitionBy("list").mode("append").parquet(path)
  }

  /** Forget vectors — the shared [[Tombstones]] vec_id delete vectors;
    * physical reclamation rides [[IndexMaintenance.compact]] with
    * `partitionCols = Seq("list")`.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.forget(spark, path, ids, idCol = "vec_id")

  /** Approximate top-N for one probe from the STORED table: the nProbe
    * list restriction is PARTITION PRUNING (unmatched `list=` directories
    * never become tasks), then the survivors rank by the exact BIGINT
    * code dot product.
    */
  def query(spark: SparkSession, path: String, probe: Seq[Float],
            cents: Array[(Long, Seq[Float])], topN: Int): DataFrame = {
    val scale = SqIndex.readScale(spark, path)
    SqIndex.rank(CodeTable.read(spark, path)
        .filter(col("list").isin(IvfPqIndex.probeLists(probe, cents): _*)),
      SqIndex.encodeVec(probe, scale), topN)
  }
}
