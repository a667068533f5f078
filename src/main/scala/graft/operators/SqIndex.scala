package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted scalar-quantization (SQ8) code table — the third member of the
  * stored vector-compression family next to [[PqIndex]] (product codes) and
  * [[IvfPqIndex]] (partitioned product codes): every dimension is linearly
  * quantized to a signed 8-bit code against ONE frozen per-corpus scale
  * (FAISS `IndexScalarQuantizer(QT_8bit)` storage model; the symmetric
  * per-tensor int8 scheme every production quantized-inference stack uses).
  *
  * Why it earns a slot beside PQ: SQ is the accuracy end of the
  * compression trade. PQ stores M=4 codes a vector (64x smaller than
  * float32) but scores through a KC-entry codebook approximation; SQ8
  * stores dim bytes (4x smaller) and keeps PER-DIMENSION resolution — the
  * standard first rung of the FAISS quantizer ladder, and the variant a
  * retrieval stack reaches for when PQ recall is not enough but float
  * vectors do not fit. At 100 TB: a 64-dim float corpus (256 B/vector)
  * becomes 64 B/vector, scan cost per candidate is a 64-step INTEGER
  * dot product (SIMD-friendly, no float units), and the query plan never
  * touches the embedding column after encoding.
  *
  * Determinism is STRONGER than the PQ lattice: scoring is exact BIGINT
  * arithmetic end to end — the only float ops are the encode-time
  * `floor(v / scale * 127)`, identical IEEE-754 binary64 expressions on
  * both engines (floor, not round: the repo's cross-engine discipline,
  * since floor of an identical double is unambiguous while half-way
  * rounding modes differ). The scale is `max(|v_i|)` over the training
  * corpus — an order-independent reduction (max commutes; no summation
  * noise), so train is deterministic under any partitioning.
  *
  * Lifecycle mirrors [[PqIndex]]: train (frozen scale — every stored
  * code's meaning depends on it) -> encode -> WRITE -> query from the
  * stored table; ingest appends deltas encoded against the frozen scale
  * (clamp to [-127, 127] covers later vectors that exceed the training
  * max — the FAISS trained-range behavior); forget rides the shared
  * [[Tombstones]] delete vectors; compaction rides
  * [[IndexMaintenance.compact]]. The scale persists as an
  * underscore-prefixed `_scale` sidecar inside the index directory
  * (invisible to plain parquet reads, like `_tombstones`), so a reader
  * needs no out-of-band metadata.
  */
object SqIndex {

  val Bits = 8
  val MaxCode = 127

  /** Train the quantizer: the corpus-wide max absolute component — ONE
    * order-independent reduction over the embedding column (a full pass at
    * build time, the same budget as PQ's encode pass; on an append-only
    * corpus the frozen scale never changes).
    */
  def train(emb: DataFrame, vecCol: String = "embedding"): Double =
    emb.agg(max(expr(
      s"array_max(transform($vecCol, x -> abs(CAST(x AS DOUBLE))))")))
      .head.getDouble(0)

  /** The encode column: per-dim `clamp(floor(v / scale * 127))` as
    * ARRAY<INT>. Kept as a single higher-order-function expression so
    * encoding stays inside whole-stage codegen — no explode, no UDF.
    */
  def encodeCol(scale: Double, vecCol: String = "embedding"): Column =
    expr(s"""transform($vecCol, x -> CAST(LEAST(127.0D, GREATEST(-127.0D,
             FLOOR(CAST(x AS DOUBLE) / ${scaleLit(scale)} * 127.0D))) AS INT))""")

  /** Render the scale as an exact double literal (Double.toString is the
    * shortest round-tripping decimal by Java spec), so the engine-side
    * expression divides by the identical binary64 the trainer produced.
    */
  def scaleLit(scale: Double): String = {
    val s = scale.toString
    if (s.contains("E") || s.contains(".")) s + "D" else s + ".0D"
  }

  /** Quantize one vector driver-side with the same IEEE expression the
    * engine uses (probe-side encoding — dim ints, computed once a query).
    */
  def encodeVec(v: Seq[Float], scale: Double): Seq[Int] =
    v.map { x =>
      val q = math.floor(x.toDouble / scale * 127.0)
      math.min(127.0, math.max(-127.0, q)).toInt
    }

  def encode(emb: DataFrame, scale: Double): DataFrame =
    emb.select(col("vec_id"), encodeCol(scale).as("codes"))

  private def scaleDir(path: String): String = path + "/_scale"

  /** Publish the frozen scale as the `_scale` sidecar (shared with
    * [[IvfSqIndex]], which stores SQ codes under a `list=` layout).
    */
  private[operators] def writeScale(spark: SparkSession, scale: Double,
                                    path: String): Unit = {
    import spark.implicits._
    Seq(scale).toDF("scale").coalesce(1)
      .write.mode("overwrite").parquet(scaleDir(path))
  }

  /** Encode the corpus once; write the code table + the `_scale` sidecar. */
  def build(emb: DataFrame, scale: Double, path: String): Unit = {
    encode(emb, scale).write.mode("overwrite").parquet(path)
    writeScale(emb.sparkSession, scale, path)
  }

  /** Read the frozen scale back from the sidecar. */
  def readScale(spark: SparkSession, path: String): Double =
    spark.read.parquet(scaleDir(path)).head.getDouble(0)

  /** Encode ONLY a delta against the FROZEN scale; append its codes —
    * O(delta) per crawl, byte-identical to a from-scratch build over the
    * union (SqIndexSpec pins it). Values outside the trained range clamp
    * to the code boundary, so a drifting corpus degrades gracefully
    * instead of corrupting the code space.
    */
  def ingest(emb: DataFrame, path: String): Unit = {
    val scale = readScale(emb.sparkSession, path)
    encode(emb, scale).write.mode("append").parquet(path)
  }

  /** Streamed ingest ([[CodeTable.appendStream]]): every micro-batch
    * encodes against the FROZEN scale (trained batch-side before the
    * stream starts — stream-time codes mean what build-time codes meant;
    * out-of-range values clamp) and appends. The `_scale` sidecar is
    * published BEFORE the stream starts so readers can query the growing
    * table mid-stream.
    */
  def ingestStream(emb: DataFrame, scale: Double, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = emb.sparkSession
    // frozen-quantizer guard: a pre-existing code table's rows were
    // encoded against ITS scale — silently republishing a different one
    // would rank old and new codes on different lattices. Batch ingest()
    // reads the stored scale for the same reason.
    val sd = new org.apache.hadoop.fs.Path(scaleDir(path))
    if (sd.getFileSystem(spark.sessionState.newHadoopConf()).exists(sd)) {
      val stored = readScale(spark, path)
      require(stored == scale,
        s"scale $scale does not match the frozen _scale $stored at $path — " +
          "rebuild the index under the new scale, never re-scale in place")
    } else writeScale(spark, scale, path)
    CodeTable.appendStream(encode(emb, scale), path, Nil, checkpoint)
  }

  /** Forget vectors — the shared [[Tombstones]] delete-vector lifecycle on
    * `vec_id` (see [[PqIndex.forget]]); physical reclamation rides the
    * tombstone-aware [[IndexMaintenance.compact]].
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Tombstones.forget(spark, path, ids, idCol = "vec_id")

  /** Rank a codes relation against one quantized probe: exact BIGINT dot
    * product via zip_with + aggregate (codegen, no explode), total
    * (score desc, vec_id) order. THE single copy of the SQ ranking so the
    * inline and stored lifecycles cannot drift.
    */
  def rank(codes: DataFrame, probeCodes: Seq[Int], topN: Int): DataFrame =
    codes.select(col("vec_id"), scoreCol(probeCodes).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(topN)

  /** The exact BIGINT code dot product against one quantized probe — THE
    * single scoring expression every SQ8 consumer ([[rank]], the streamed
    * ingest contract) goes through.
    */
  def scoreCol(probeCodes: Seq[Int]): Column = expr(
    s"aggregate(zip_with(codes, ${qcSql(probeCodes)}, (a, b) -> CAST(a AS BIGINT) * b), 0L, (acc, x) -> acc + x)")

  private def qcSql(probeCodes: Seq[Int]): String =
    probeCodes.mkString("array(", ", ", ")")

  /** Approximate top-N for one probe, entirely from the STORED code table:
    * the plan scans dim-bytes-a-row parquet — no embedding column, no
    * float math anywhere.
    */
  def query(spark: SparkSession, path: String, probe: Seq[Float],
            topN: Int): DataFrame = {
    val scale = readScale(spark, path)
    rank(CodeTable.read(spark, path), encodeVec(probe, scale), topN)
  }
}
