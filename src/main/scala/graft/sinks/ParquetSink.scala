package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{length, struct, to_json}

/** Parquet sink with the reference's output contract (operators R5/R6, O4/O5/
  * O10/O11): gzip compression, INT96 timestamps for Spectrum compatibility,
  * bounded output file size (the UNLOAD MAXFILESIZE analog, export.py:16),
  * optional Hive-style partitioning (R14).
  *
  * Row-group sizing (the reference's 250k-row chunks, convert.py:25-31) is
  * Spark's parquet.block.size — left at the 128 MB default, which supersedes
  * the reference's heuristic (SURVEY §6).
  */
object ParquetSink {

  /** Mirrors CsvExporter.DefaultMaxFileBytes (256 MB, HISTORY.rst v2.0.0). */
  val DefaultMaxFileBytes: Long = 256L * 1024 * 1024

  /** Mean of the integer widths in the single column of `widths` over its
    * first `n` rows, 100 when it has none. One `take` job, averaged on the
    * driver: a limit-then-aggregate plan costs a shuffle and a second job.
    */
  private[graft] def sampledWidth(widths: DataFrame, n: Int): Double = {
    val sample = widths.take(n)
    if (sample.isEmpty) 100.0 else sample.map(_.getInt(0).toDouble).sum / sample.length
  }

  /** `maxFileBytes` bounds output files via the average row width of the
    * first 2048 rows, converted to a record cap (an estimate — serialized
    * parquet with compression is smaller than the JSON-ish proxy, so files
    * land under the bound). Explicit `maxRecordsPerFile` overrides; 0 for both
    * disables bounding.
    */
  def write(df: DataFrame,
            path: String,
            partitionBy: Seq[String] = Nil,
            maxRecordsPerFile: Long = 0L,
            maxFileBytes: Long = DefaultMaxFileBytes,
            compression: String = "gzip",
            int96Timestamps: Boolean = true): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.parquet.outputTimestampType"
    val previous = spark.conf.getOption(key)
    if (int96Timestamps) spark.conf.set(key, "INT96")
    try {
      val cap =
        if (maxRecordsPerFile > 0) maxRecordsPerFile
        else if (maxFileBytes > 0) {
          val avgBytes = sampledWidth(
            df.select(length(to_json(struct(df.columns.map(df.col): _*)))), 2048) + 1.0
          math.max(1L, (maxFileBytes / avgBytes).toLong)
        } else 0L
      var w = df.write.mode("overwrite").option("compression", compression)
      if (cap > 0) w = w.option("maxRecordsPerFile", cap)
      if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
      w.parquet(path)
    } finally {
      previous match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
