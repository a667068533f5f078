package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** On-disk IVF-PQ — the composed production vector index (FAISS IndexIVFPQ
  * persisted): the PQ code table of [[PqIndex]] written PARTITIONED BY the
  * coarse inverted-list id, so a query's nProbe list restriction is not a
  * post-scan filter but literal PARTITION PRUNING — unmatched list
  * directories are never listed into tasks, and the scan reads ~nProbe/K
  * of the stored bytes. At 100 TB that directory structure IS the inverted
  * index: each list's codes are co-located, M bytes a vector, and a query
  * touches nProbe directories of small files.
  *
  * Same determinism lattice as `s_ann_ivfpq` (9-dp quantized cosine
  * assignment with ties to the smaller centroid id; 9-dp ADC) — the stored
  * lifecycle returns byte-identical results to the inline query, which
  * IvfPqIndexSpec asserts along with the pruned-scan plan shape.
  */
object IvfPqIndex {
  val KCoarse = 16
  val NProbe = 2

  /** Frozen coarse centroids: embedding rows vec_id <= KCoarse (bounded
    * collect, the TrainedIvfCodebook discipline).
    */
  def centroidsOf(emb: DataFrame): Array[(Long, Seq[Float])] =
    emb.filter(col("vec_id") <= KCoarse).orderBy("vec_id")
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

  /** Coarse assignment column: argmax of 9-dp-quantized cosine, ties to
    * the smaller centroid id (negated-id struct max).
    */
  def coarseList(cents: Array[(Long, Seq[Float])]): Column = {
    val simStructs = cents.map { case (ccid, v) =>
      struct(round(Vectors.cosineSim(col("embedding"), typedlit(v)), 9).as("sim"),
        lit(-ccid).as("nccid"))
    }
    -array_max(array(simStructs.toSeq: _*)).getField("nccid")
  }

  private def codeTable(emb: DataFrame, cents: Array[(Long, Seq[Float])],
                        cb: Array[Seq[Float]]): DataFrame =
    emb.withColumn("list", coarseList(cents))
      .select(col("vec_id") +: col("list") +: PqIndex.codeColumns(cb): _*)

  /** Assign + encode the corpus once; write the code table partitioned by
    * coarse list. One pass: K cosine + M x KC sub-distances per vector,
    * never again after build.
    */
  def build(emb: DataFrame, cents: Array[(Long, Seq[Float])],
            cb: Array[Seq[Float]], path: String): Unit =
    codeTable(emb, cents, cb)
      .write.partitionBy("list").mode("overwrite").parquet(path)

  /** Assign + encode ONLY a delta against the FROZEN coarse centroids and
    * codebook; append its codes into the same list directories. Both
    * quantizers are frozen by design, so appended rows land in the correct
    * partition directory and partition pruning keeps working unchanged —
    * per-crawl cost is delta-sized, not corpus-sized (the
    * [[SignatureIndex.ingest]] discipline; IvfPqIndexSpec chains batches
    * and pins byte-equality with a from-scratch build).
    */
  def ingest(emb: DataFrame, cents: Array[(Long, Seq[Float])],
             cb: Array[Seq[Float]], path: String): Unit =
    codeTable(emb, cents, cb)
      .write.partitionBy("list").mode("append").parquet(path)

  /** The TWO-LEVEL filtered layout — `partCol=` (user metadata, e.g.
    * `label=`) outer, `list=` (coarse quantizer) inner: the full
    * production vector-store directory structure for METADATA-FILTERED
    * approximate search. A "nearest WHERE label = X" query prunes on BOTH
    * levels at planning time ([[queryWhere]]): unmatched labels are never
    * listed, and within the label only the probe's nProbe list directories
    * are read — per-query bytes ~ nProbe/K of ONE label's share of an
    * M-bytes-a-vector table. The coarse quantizer stays GLOBAL (the
    * centroids are corpus-frozen), so a label's candidates are its vectors
    * in the probe's global lists — the FAISS-with-metadata-filter
    * semantics, and what makes ingest label-agnostic: a delta row lands in
    * `label=/list=/` by the same frozen assignment regardless of which
    * labels exist.
    */
  def buildFiltered(emb: DataFrame, cents: Array[(Long, Seq[Float])],
                    cb: Array[Seq[Float]], path: String, partCol: String): Unit =
    emb.withColumn("list", coarseList(cents))
      .select(col("vec_id") +: col(partCol) +: col("list") +: PqIndex.codeColumns(cb): _*)
      .write.partitionBy(partCol, "list").mode("overwrite").parquet(path)

  /** [[query]] over a [[buildFiltered]] table with a metadata predicate:
    * both the predicate and the nProbe list restriction land in
    * PartitionFilters (IvfPqIndexSpec pins <= nProbe partitions scanned of
    * the label's K and both columns in the filter), then ADC ranks the
    * surviving codes — same lattice, same tie-break as every PQ lifecycle.
    */
  def queryWhere(spark: SparkSession, path: String, probe: Seq[Float],
                 cents: Array[(Long, Seq[Float])], cb: Array[Seq[Float]],
                 topN: Int, pred: Column): DataFrame =
    PqIndex.adcRank(
      CodeTable.read(spark, path)
        .filter(pred && col("list").isin(probeLists(probe, cents): _*)),
      PqIndex.adcLut(probe, cb), topN)

  /** Forget vectors from the partitioned code table — [[PqIndex.forget]]'s
    * semantics (shared [[Tombstones]] machinery on `vec_id`; the query
    * path already reads the live view via [[CodeTable.read]]).
    * Reclamation: `IndexMaintenance.compact(spark, path, Seq("list"))` —
    * tombstone-aware AND layout-preserving, so a forgotten vec_id's rows
    * leave their `list=` directory physically while pruning keeps working.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    PqIndex.forget(spark, path, ids)

  private def dotD(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    dot
  }

  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The probe's top-nProbe coarse lists, on the same 9-dp lattice the
    * build assigned with — K cosines on the driver.
    */
  def probeLists(probe: Seq[Float], cents: Array[(Long, Seq[Float])]): Seq[Long] =
    cents.map { case (ccid, v) => (ccid, PqIndex.round9(cos(probe, v))) }
      .sortBy { case (ccid, sim) => (-sim, ccid) }
      .take(NProbe).map(_._1).toSeq

  /** Approximate top-N for one probe from the STORED table: the list
    * restriction prunes partitions at planning (PartitionFilters, not a
    * post-scan filter), then ADC ranks the surviving codes.
    */
  def query(spark: SparkSession, path: String, probe: Seq[Float],
            cents: Array[(Long, Seq[Float])], cb: Array[Seq[Float]],
            topN: Int): DataFrame =
    PqIndex.adcRank(
      CodeTable.read(spark, path)
        .filter(col("list").isin(probeLists(probe, cents): _*)),
      PqIndex.adcLut(probe, cb), topN)

  /** Answer a BATCH of probes in ONE plan from the partitioned table —
    * [[PqIndex.queryBatch]]'s discipline with per-qid list pruning: the
    * scan restricts to the UNION of every probe's nProbe lists (still
    * literal partition pruning — unmatched `list=` directories are never
    * listed), each surviving row scores only against the qids whose probe
    * lists contain its list (array_contains on the broadcast relation),
    * and per-qid top-N is the bounded mergeable TopK. Byte-identical per
    * qid to [[query]].
    */
  def queryBatch(spark: SparkSession, path: String,
                 probes: Seq[(Long, Seq[Float])],
                 cents: Array[(Long, Seq[Float])], cb: Array[Seq[Float]],
                 topN: Int): DataFrame = {
    import spark.implicits._
    val entries = probes.map { case (qid, pv) =>
      (qid, probeLists(pv, cents),
        PqIndex.adcLut(pv, cb).map(_.toSeq).toSeq)
    }
    val lutDf = entries.toDF("qid", "lists", "lut")
    val allLists = entries.flatMap(_._2).distinct
    PqIndex.adcTopK(CodeTable.read(spark, path)
      .filter(col("list").isin(allLists: _*))
      .crossJoin(broadcast(lutDf))
      .filter(array_contains(col("lists"), col("list"))), topN)
  }

  // ------------------------------------------- residual encoding (FAISS)

  /** Per-row residual v - centroid(list(v)), FLOAT-quantized per dimension
    * (exact on both engines: double widening, double subtract, one float
    * rounding — DuckDB replicates it as CAST(u.v - cu.v AS FLOAT)). The
    * actual FAISS IndexIVFPQ encodes residuals, not raw vectors: residuals
    * concentrate near zero, so one shared sub-codebook quantizes every
    * list's vectors with far less error than raw-space codes. zip_with is
    * a non-codegen higher-order function, which is fine HERE because
    * residuals are computed once per vector at build/ingest — never on the
    * query path. Requires contiguous 1..K centroid ids (element_at indexes
    * the literal by list id).
    */
  private def residualCol(cents: Array[(Long, Seq[Float])]): Column = {
    require(cents.map(_._1).sorted.sameElements(1L to cents.length),
      s"residual encoding needs contiguous 1..K centroid ids, got ${cents.map(_._1).mkString(",")}")
    val centArr = typedlit(cents.sortBy(_._1).map(_._2.map(_.toDouble)).toSeq)
    zip_with(col("embedding"), element_at(centArr, col("list").cast("int")),
      (x, y) => (x.cast("double") - y).cast("float"))
  }

  /** Residual sub-codebook: the residuals of embedding rows vec_id 1..KC,
    * each against ITS OWN nearest coarse centroid (the same 9-dp cosine /
    * smaller-id tie lattice the build assigns with) — data-derived and
    * SQL-expressible like PqIndex.codebookOf, but living in residual space
    * where the codes actually operate. Bounded driver collect (KC rows).
    */
  def residualCodebookOf(emb: DataFrame, cents: Array[(Long, Seq[Float])]): Array[Seq[Float]] =
    PqIndex.codebookOf(emb).map { v =>
      val ccid = cents.map { case (id, c) => (id, PqIndex.round9(cos(v, c))) }
        .minBy { case (id, sim) => (-sim, id) }._1
      val c = cents.find(_._1 == ccid).get._2
      v.indices.map(i => (v(i).toDouble - c(i).toDouble).toFloat): Seq[Float]
    }

  private def residualCodeTable(emb: DataFrame, cents: Array[(Long, Seq[Float])],
                                cb: Array[Seq[Float]]): DataFrame =
    emb.withColumn("list", coarseList(cents))
      .withColumn("embedding", residualCol(cents))
      .select(col("vec_id") +: col("list") +: PqIndex.codeColumns(cb): _*)

  /** Assign + residual-encode the corpus; write partitioned by coarse list.
    * Same directory layout (and therefore the same partition pruning) as
    * [[build]]; only the code semantics change — each code names the
    * nearest RESIDUAL-codebook entry of v - centroid(list).
    */
  def buildResidual(emb: DataFrame, cents: Array[(Long, Seq[Float])],
                    cb: Array[Seq[Float]], path: String): Unit =
    residualCodeTable(emb, cents, cb)
      .write.partitionBy("list").mode("overwrite").parquet(path)

  /** Append a delta's residual codes against the frozen centroids +
    * codebook — [[ingest]]'s discipline for the residual lattice; both
    * quantizers frozen means appended rows land in the right list
    * directory and mean exactly what build-time rows mean.
    */
  def ingestResidual(emb: DataFrame, cents: Array[(Long, Seq[Float])],
                     cb: Array[Seq[Float]], path: String): Unit =
    residualCodeTable(emb, cents, cb)
      .write.partitionBy("list").mode("append").parquet(path)

  /** Streamed ingest of an embeddings stream into the residual code table
    * ([[CodeTable.appendStream]] into the `list=` directories): each
    * micro-batch is coarse-assigned and residual-encoded against the
    * FROZEN quantizers, so the production vector index keeps up with a
    * continuously embedded corpus without re-encoding history and without
    * losing partition pruning.
    */
  def ingestStreamResidual(emb: DataFrame, cents: Array[(Long, Seq[Float])],
                           cb: Array[Seq[Float]], path: String,
                           checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    CodeTable.appendStream(residualCodeTable(emb, cents, cb), path, Seq("list"), checkpoint)

  /** Residual-ADC top-N from the stored table: score(v) decomposes as
    * <p, centroid(list)> + <p, residual-code> (the FAISS inner-product
    * residual identity applied to quantized residuals), so the query adds
    * a per-LIST constant — K driver-computed 9-dp dots, rides the pruned
    * scan's `list` column — to the usual M lookup-table reads. Still no
    * embedding column, still partition-pruned to nProbe directories.
    */
  def queryResidual(spark: SparkSession, path: String, probe: Seq[Float],
                    cents: Array[(Long, Seq[Float])], cb: Array[Seq[Float]],
                    topN: Int): DataFrame = {
    val ipc = cents.sortBy(_._1).map { case (_, c) => PqIndex.round9(dotD(probe, c)) }.toSeq
    PqIndex.adcRank(
      CodeTable.read(spark, path)
        .filter(col("list").isin(probeLists(probe, cents): _*)),
      PqIndex.adcLut(probe, cb), topN,
      base = element_at(typedlit(ipc), col("list").cast("int")))
  }
}
