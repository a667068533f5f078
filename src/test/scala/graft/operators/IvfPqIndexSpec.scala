package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The stored list-partitioned IVF-PQ index: byte-identical answers to the
  * inline query, with the nProbe restriction executed as partition pruning.
  */
class IvfPqIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("stored-index query returns exactly the inline s_ann_ivfpq result") {
    val inline = graft.SparkEntry.queries("s_ann_ivfpq")(spark, sfDir)
    val stored = graft.SparkEntry.queries("s_ann_ivfpq_index")(spark, sfDir)
    assert(stored.collect().toSeq == inline.collect().toSeq)
  }

  test("build + chained ingests are byte-identical to a from-scratch build") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = IvfPqIndex.centroidsOf(emb)
    val cb = PqIndex.codebookOf(emb)
    val grown = Files.createTempDirectory("graft_ivfpq_grown_").toString
    IvfPqIndex.build(emb.filter(col("vec_id") % 3 === 0), cents, cb, grown)
    IvfPqIndex.ingest(emb.filter(col("vec_id") % 3 === 1), cents, cb, grown)
    IvfPqIndex.ingest(emb.filter(col("vec_id") % 3 === 2), cents, cb, grown)
    val scratch = Files.createTempDirectory("graft_ivfpq_scratch_").toString
    IvfPqIndex.build(emb, cents, cb, scratch)
    assert(spark.read.parquet(grown).orderBy("vec_id").collect().toSeq ==
      spark.read.parquet(scratch).orderBy("vec_id").collect().toSeq)
    // appended rows landed inside the existing list directories: queries
    // still answer identically (and still prune) over the grown index
    val probe = cents.find(_._1 == 1L).get._2
    assert(IvfPqIndex.query(spark, grown, probe, cents, cb, topN = 5).collect().toSeq ==
      IvfPqIndex.query(spark, scratch, probe, cents, cb, topN = 5).collect().toSeq)
  }

  test("trained residual index: balanced lists, pruned scan, lower ADC error than raw codes") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val trained = graft.queries.TrainedIvfCodebook.centroids.zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toArray
    val cbR = IvfPqIndex.residualCodebookOf(emb, trained)
    val path = Files.createTempDirectory("graft_ivfpq_tr_spec_").toString
    IvfPqIndex.buildResidual(emb, trained, cbR, path)

    // k-means training is what guarantees a usable inverted index: every
    // list non-empty, no list hoarding the corpus (the first-K fiat gives
    // no such guarantee on adversarial data)
    // the residual lifecycle also grows by append: a build+ingest split is
    // byte-identical to the from-scratch build (frozen quantizers)
    val grown = Files.createTempDirectory("graft_ivfpq_tr_grown_").toString
    IvfPqIndex.buildResidual(emb.filter(col("vec_id") % 2 === 1), trained, cbR, grown)
    IvfPqIndex.ingestResidual(emb.filter(col("vec_id") % 2 === 0), trained, cbR, grown)
    assert(spark.read.parquet(grown).orderBy("vec_id").collect().toSeq ==
      spark.read.parquet(path).orderBy("vec_id").collect().toSeq)

    val sizes = spark.read.parquet(path).groupBy("list").count()
      .collect().map(_.getLong(1))
    assert(sizes.length == IvfPqIndex.KCoarse,
      s"expected ${IvfPqIndex.KCoarse} non-empty lists, got ${sizes.length}")
    assert(sizes.max <= 2 * (sizes.sum / sizes.length),
      s"list skew: max ${sizes.max} vs mean ${sizes.sum / sizes.length}")

    // the query is still a pruned, embedding-free scan, and finds the
    // probe's own vector first (its residual quantizes to its own region)
    val probe = emb.filter(col("vec_id") === 1)
      .select("embedding").collect().head.getSeq[Float](0)
    val df = IvfPqIndex.queryResidual(spark, path, probe, trained, cbR, topN = 5)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [list"), s"no partition pruning:\n$planStr")
    assert(!planStr.contains("embedding"), s"stored query must not read embeddings:\n$planStr")
    assert(df.collect().head.getLong(0) == 1L)

    // residuals are the point: ADC reconstruction error (|adc - exact ip|,
    // scored over ALL lists so candidate sets match) must beat raw-vector
    // codes for the same probe, M, and KC
    val ipCol = org.apache.spark.sql.functions.expr(
      "aggregate(zip_with(embedding, pv, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    val exact = emb.withColumn("pv", typedlit(probe.map(_.toDouble)))
      .select(col("vec_id"), ipCol.as("ip"))
    val lutR = PqIndex.adcLut(probe, cbR)
    val ipc = trained.sortBy(_._1).map { case (_, c) =>
      c.indices.map(i => probe(i).toDouble * c(i).toDouble).sum }.toSeq
    val adcR = spark.read.parquet(path).select(col("vec_id"),
      (element_at(typedlit(ipc), col("list").cast("int")) +
        (0 until PqIndex.M).map(m =>
          element_at(typedlit(lutR(m).toSeq), col(s"code$m"))).reduceLeft(_ + _)).as("a"))
    val rawPath = Files.createTempDirectory("graft_ivfpq_raw_spec_").toString
    val cbF = PqIndex.codebookOf(emb)
    PqIndex.build(emb, cbF, rawPath)
    val lutF = PqIndex.adcLut(probe, cbF)
    val adcF = spark.read.parquet(rawPath).select(col("vec_id"),
      (0 until PqIndex.M).map(m =>
        element_at(typedlit(lutF(m).toSeq), col(s"code$m"))).reduceLeft(_ + _).as("a"))
    def mae(adc: org.apache.spark.sql.DataFrame): Double =
      adc.join(exact, "vec_id").select(avg(abs(col("a") - col("ip")))).first().getDouble(0)
    val (mR, mF) = (mae(adcR), mae(adcF))
    assert(mR < mF, s"residual codes should reduce ADC error: residual $mR vs raw $mF")
  }

  test("streamed residual ingest composes with a batch build: byte-identical, pruning kept") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val trained = graft.queries.TrainedIvfCodebook.centroids.zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toArray
    val cbR = IvfPqIndex.residualCodebookOf(emb, trained)
    val base = Files.createTempDirectory("graft_ivfpq_st_spec_").toString
    // the production lifecycle: batch-build the existing corpus, then the
    // continuously embedded delta arrives as a STREAM (several micro-batches
    // via maxFilesPerTrigger=1) into the same stored table
    IvfPqIndex.buildResidual(emb.filter(col("vec_id") % 2 === 1), trained, cbR, s"$base/idx")
    emb.filter(col("vec_id") % 2 === 0).repartition(3).write.parquet(s"$base/delta")
    val st = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/delta")
    val jobs = JobCount.of(spark) {
      val q = IvfPqIndex.ingestStreamResidual(st, trained, cbR, s"$base/idx", s"$base/cp")
      try q.processAllAvailable() finally q.stop()
    }
    // three triggers (one delta file each), one append job apiece
    assert(jobs == 3, s"the streamed ingest ran $jobs Spark jobs, not 3")
    val scratch = Files.createTempDirectory("graft_ivfpq_st_scratch_").toString
    IvfPqIndex.buildResidual(emb, trained, cbR, scratch)
    assert(spark.read.parquet(s"$base/idx").orderBy("vec_id").collect().toSeq ==
      spark.read.parquet(scratch).orderBy("vec_id").collect().toSeq)
    // the streamed table answers queries identically and still prunes
    val probe = emb.filter(col("vec_id") === 1)
      .select("embedding").collect().head.getSeq[Float](0)
    val df = IvfPqIndex.queryResidual(spark, s"$base/idx", probe, trained, cbR, topN = 5)
    assert(df.collect().toSeq ==
      IvfPqIndex.queryResidual(spark, scratch, probe, trained, cbR, topN = 5).collect().toSeq)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [list"), s"no partition pruning:\n$planStr")
  }

  test("nProbe restriction is partition pruning: <= NProbe directories scanned") {
    val path = Files.createTempDirectory("graft_ivfpq_spec_").toString
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = IvfPqIndex.centroidsOf(emb)
    val cb = PqIndex.codebookOf(emb)
    IvfPqIndex.build(emb, cents, cb, path)
    val probe = cents.find(_._1 == 1L).get._2
    val df = IvfPqIndex.query(spark, path, probe, cents, cb, topN = 5)
    val planStr = df.queryExecution.executedPlan.toString
    // the list predicate must land in PartitionFilters (pruned at planning),
    // and the scan must never touch an embedding column
    assert(planStr.contains("PartitionFilters: [list"),
      s"list restriction did not become a partition filter:\n$planStr")
    assert(!planStr.contains("embedding"),
      s"stored query must not read embeddings:\n$planStr")
    // fileScans descends through AQE query-stage leaves (readCodes'
    // dropDuplicates makes the plan adaptive): the old collectLeaves
    // counted 0 scans and the <=-style assertion passed VACUOUSLY
    // (caught in r11); >= 1 pins it non-vacuous
    val scanned = fileScans(df).map(_.selectedPartitions.partitionCount).sum
    val allLists = spark.read.parquet(path).select("list").distinct().count()
    assert(scanned >= 1 && scanned <= IvfPqIndex.NProbe && scanned < allLists,
      s"expected 1..${IvfPqIndex.NProbe} scanned list partitions of $allLists, got $scanned")
  }

  test("two-level filtered layout prunes BOTH label and list; equals the label-only twin") {
    // the full filtered-vector-store shape: label= outer, list= inner —
    // a "nearest WHERE label = 3" query must prune on both levels at
    // planning time and read <= NProbe directories of ONE label
    val path = Files.createTempDirectory("graft_ivfpq_2lvl_").toString + "/idx"
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = IvfPqIndex.centroidsOf(emb)
    val cb = PqIndex.codebookOf(emb)
    IvfPqIndex.buildFiltered(emb, cents, cb, path, partCol = "label")
    val probe = cents.find(_._1 == 1L).get._2

    val df = IvfPqIndex.queryWhere(spark, path, probe, cents, cb, topN = 5,
      pred = col("label") === 3)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [") &&
      planStr.contains("label") && planStr.contains("list"),
      s"label+list did not both become partition filters:\n$planStr")
    assert(!planStr.contains("embedding"))
    val scanned = fileScans(df).map(_.selectedPartitions.partitionCount).sum
    assert(scanned >= 1 && scanned <= IvfPqIndex.NProbe,
      s"expected 1..${IvfPqIndex.NProbe} (label, list) partitions, got $scanned")

    // global centroids make the label's candidates exactly its vectors in
    // the probe's global lists — so a one-level build over ONLY the
    // label's vectors (same frozen quantizers) answers byte-identically
    val twin = Files.createTempDirectory("graft_ivfpq_2lvl_twin_").toString
    IvfPqIndex.build(emb.filter(col("label") === 3), cents, cb, twin)
    assert(df.collect().toSeq ==
      IvfPqIndex.query(spark, twin, probe, cents, cb, topN = 5).collect().toSeq)
  }

  test("forget equals never-ingested on the partitioned layout; pruning survives compact") {
    import org.apache.hadoop.fs.Path
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = IvfPqIndex.centroidsOf(emb)
    val cb = PqIndex.codebookOf(emb)
    val probe = cents.find(_._1 == 1L).get._2

    val path = Files.createTempDirectory("graft_ivfpq_fgt_").toString + "/idx"
    IvfPqIndex.build(emb, cents, cb, path)
    IvfPqIndex.forget(spark, path, emb.filter(col("vec_id") % 3 === 0).select("vec_id"))

    val twin = Files.createTempDirectory("graft_ivfpq_fgt_twin_").toString + "/idx"
    IvfPqIndex.build(emb.filter(col("vec_id") % 3 =!= 0), cents, cb, twin)
    val want = IvfPqIndex.query(spark, twin, probe, cents, cb, topN = 5).collect().toSeq

    assert(IvfPqIndex.query(spark, path, probe, cents, cb, topN = 5)
      .collect().toSeq == want, "live view must equal the never-ingested twin")

    // reclamation preserves the list= layout AND the pruning
    IndexMaintenance.compact(spark, path, partitionCols = Seq("list"))
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(path + "/_tombstones")))
    assert(spark.read.parquet(path).filter(col("vec_id") % 3 === 0).count() == 0,
      "forgotten rows must leave their list= directories physically")
    val df = IvfPqIndex.query(spark, path, probe, cents, cb, topN = 5)
    assert(df.collect().toSeq == want)
    assert(df.queryExecution.executedPlan.toString.contains("PartitionFilters: [list"),
      "pruning must survive forget + compact")
  }
}
