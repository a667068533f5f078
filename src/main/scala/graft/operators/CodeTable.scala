package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The storage rules every stored vector code table shares ([[PqIndex]],
  * [[SqIndex]], [[IvfPqIndex]], [[IvfSqIndex]]): codes are appended at
  * least once, and readers restore set semantics.
  *
  * Build and batch ingest write each vector once, but a streamed append
  * ([[appendStream]]) replays an uncommitted micro-batch after a restart,
  * appending its rows again. Codes are deterministic (frozen quantizers,
  * 9-dp lattice), so a replayed row is byte-identical to the first copy,
  * and [[read]] folds the copies back into one. Every query reads through
  * [[read]]: a duplicated row would occupy two top-k slots.
  */
private[operators] object CodeTable {

  /** The live code rows of `path` as a set: forgotten vec_ids anti-joined
    * out ([[Tombstones]]), then an all-column dropDuplicates (copies are
    * byte-identical, so no column picks a winner), a map-side-combined
    * exchange of rows a few bytes wide. A predicate on a partition column
    * written above this read still prunes the scan: the optimizer pushes
    * it through the dedup and the anti-join (the `PartitionFilters` pins
    * of IvfPqIndexSpec and IvfSqIndexSpec).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    Tombstones.live(spark, path, idCol = "vec_id").dropDuplicates()

  /** Stream `codes` into the table at `path`: each micro-batch is appended
    * by the plain batch writer, partitioned by `partitionCols`, so appended
    * files land inside their partition directories and pruning keeps
    * working. foreachBatch rather than the streaming file sink, whose
    * `_spark_metadata` manifest would hide batch-API appends from every
    * later read of the table. At least once: see [[read]].
    */
  def appendStream(codes: DataFrame, path: String, partitionCols: Seq[String],
                   checkpoint: String): StreamingQuery =
    codes.writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.partitionBy(partitionCols: _*).mode("append").parquet(path)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
