package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** JoinView's IVM guarantees: the maintained view equals the from-scratch
  * join after EVERY batch (under any slicing of either side), ingest's
  * stored-side reads are bucket-pruned, and orphans of a crashed writer
  * are invisible and cleaned before a retry.
  */
class JoinViewSpec extends SparkSpec {

  private def mkA(rows: Seq[(Long, String)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("k", "av")
  }

  private def mkB(rows: Seq[(Long, Long)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("k", "bv")
  }

  private def viewSet(path: String): Set[(Long, String, Long)] =
    JoinView.merged(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def joinSet(a: Seq[(Long, String)], b: Seq[(Long, Long)]): Set[(Long, String, Long)] =
    (for ((ka, av) <- a; (kb, bv) <- b if ka == kb) yield (ka, av, bv)).toSet

  // keys deliberately collide across slices so every delta term fires
  private val A = (1L to 40L).map(i => (i % 13, s"a$i"))
  private val B = (1L to 30L).map(i => (i % 13, i * 100))

  test("view equals the from-scratch join after every batch") {
    val path = Files.createTempDirectory("graft_jv_prefix_").toString
    val aSlices = A.grouped(14).toSeq // 3 slices
    val bSlices = B.grouped(10).toSeq
    JoinView.build(mkA(aSlices(0)), mkB(bSlices(0)), "k", path)
    assert(viewSet(path) == joinSet(aSlices(0), bSlices(0)))
    JoinView.ingest(mkA(aSlices(1)), mkB(bSlices(1)), "k", path)
    assert(viewSet(path) == joinSet(aSlices(0) ++ aSlices(1), bSlices(0) ++ bSlices(1)))
    JoinView.ingest(mkA(aSlices(2)), mkB(bSlices(2)), "k", path)
    assert(viewSet(path) == joinSet(A, B))
    // time travel: the view as of batch 1 is the two-slice prefix
    assert(JoinView.mergedAsOf(spark, path, 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      joinSet(aSlices(0) ++ aSlices(1), bSlices(0) ++ bSlices(1)))
  }

  test("any slicing of either side converges to the same view") {
    def run(aOrder: Seq[Seq[(Long, String)]], bOrder: Seq[Seq[(Long, Long)]]): Set[(Long, String, Long)] = {
      val p = Files.createTempDirectory("graft_jv_comm_").toString
      JoinView.build(mkA(aOrder(0)), mkB(bOrder(0)), "k", p)
      JoinView.ingest(mkA(aOrder(1)), mkB(bOrder(1)), "k", p)
      JoinView.ingest(mkA(aOrder(2)), mkB(bOrder(2)), "k", p)
      viewSet(p)
    }
    val aS = A.grouped(14).toSeq; val bS = B.grouped(10).toSeq
    val x = run(aS, bS)
    // skew the interleaving: all of B up front, A trickles; then reversed
    val y = run(aS, Seq(B, Nil, Nil).map(_.toSeq))
    val z = run(Seq(Nil, Nil, A).map(_.toSeq), bS)
    assert(x == joinSet(A, B) && y == x && z == x)
  }

  test("ingest prunes the stored sides to the delta's key buckets") {
    val path = Files.createTempDirectory("graft_jv_prune_").toString
    // seed spans all NB buckets
    JoinView.build(mkA((0L until 64L).map(i => (i, s"a$i"))),
      mkB((0L until 64L).map(i => (i, i))), "k", path)
    // delta touches ONE key on each side
    val dv = JoinView.deltaView(spark, path, mkA(Seq(5L -> "new")), mkB(Seq(9L -> 900L)), "k")
    val stored = fileScans(dv).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.endsWith("/a") || p.toString.endsWith("/b")))
    assert(stored.nonEmpty, "no stored-side scans found in the delta plan")
    stored.foreach { scan =>
      assert(scan.partitionFilters.exists(_.toString.contains("kb")),
        s"stored scan not bucket-pruned: ${scan.partitionFilters}")
      // the pruning is REAL: at most 1 of NB bucket directories survives
      assert(scan.selectedPartitions.partitionCount <= 1,
        s"expected <=1 pruned partition, got ${scan.selectedPartitions.partitionCount}")
    }
  }

  test("orphans of a crashed writer are invisible and cleaned on retry") {
    val path = Files.createTempDirectory("graft_jv_crash_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    val before = viewSet(path)
    // simulate a writer that died after appending view rows for batch 1
    // but BEFORE the ledger advanced: orphan partition dir, uncommitted id
    mkA(Seq(99L -> "orphan")).withColumn("bv", lit(0L))
      .write.parquet(s"$path/view/kb=3/batch=1")
    assert(viewSet(path) == before, "uncommitted orphan rows leaked into merged()")
    // the retry re-ingests batch 1 cleanly: orphan dir must not double-count
    JoinView.ingest(mkA(A.slice(14, 28)), mkB(B.slice(10, 20)), "k", path)
    assert(viewSet(path) == joinSet(A.take(28), B.take(20)))
  }

  test("an empty delta on one side is a no-op for that side's terms") {
    val path = Files.createTempDirectory("graft_jv_empty_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    JoinView.ingest(mkA(Nil), mkB(B.drop(10)), "k", path)
    JoinView.ingest(mkA(A.drop(14)), mkB(Nil), "k", path)
    assert(viewSet(path) == joinSet(A, B))
  }

  test("an explicit already-committed batch id is an exactly-once no-op") {
    val path = Files.createTempDirectory("graft_jv_replay_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    JoinView.ingest(mkA(A.slice(14, 28)), mkB(B.slice(10, 20)), "k", path, batch = 1)
    val once = viewSet(path)
    // the crash-after-commit replay: same id, same data — must not double
    JoinView.ingest(mkA(A.slice(14, 28)), mkB(B.slice(10, 20)), "k", path, batch = 1)
    assert(viewSet(path) == once)
    // a gap fails loudly
    intercept[IllegalArgumentException] {
      JoinView.ingest(mkA(Nil), mkB(Nil), "k", path, batch = 5)
    }
  }

  test("forget hides a key everywhere, deltas cannot resurrect it, compact reclaims") {
    val path = Files.createTempDirectory("graft_jv_forget_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    val spark0 = spark
    import spark0.implicits._
    JoinView.forget(spark, path, Seq(3L).toDF("k"))
    val expect = joinSet(A.take(14), B.take(10)).filterNot(_._1 == 3L)
    assert(viewSet(path) == expect, "forgotten key visible in merged()")
    // later deltas (even ones carrying the key) cannot surface it while
    // the tombstone is live: stored history is anti-joined inside ingest,
    // and merged() hides anything appended under the key pre-compaction
    JoinView.ingest(mkA(A.drop(14)), mkB(B.drop(10)), "k", path)
    assert(viewSet(path).forall(_._1 != 3L), "forgotten key resurfaced pre-compact")
    // physical reclamation: compact applies + retires the delete vectors
    JoinView.compact(spark, path)
    assert(viewSet(path).forall(_._1 != 3L))
    assert(!new java.io.File(s"$path/view/_tombstones").exists,
      "tombstones not retired by compact")
    // post-compact the key may legitimately return as NEW data
    JoinView.ingest(mkA(Seq(3L -> "reborn")), mkB(Seq(3L -> 777L)), "k", path)
    assert(viewSet(path).contains((3L, "reborn", 777L)))
    assert(viewSet(path).count(_._1 == 3L) == 1, "old history leaked back")
  }

  test("a no-op forget does not retire exact time travel; a hiding one does") {
    val path = Files.createTempDirectory("graft_jv_noopfgt_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    JoinView.ingest(mkA(A.slice(14, 28)), mkB(B.slice(10, 20)), "k", path)
    val spark0 = spark
    import spark0.implicits._
    val asOf0 = joinSet(A.take(14), B.take(10))
    // key 999 was never ingested: the tombstone hides nothing stored, so
    // the retention floor must NOT rise (r13 ADVICE — a no-op forget
    // permanently failing every as-of read would retire exact history
    // although it is intact)
    JoinView.forget(spark, path, Seq(999L).toDF("k"))
    assert(JoinView.mergedAsOf(spark, path, 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == asOf0,
      "a no-op forget must leave as-of reads exact")
    // a forget that DOES hide stored rows raises the floor: the same
    // as-of now fails loudly naming the rewrite
    JoinView.forget(spark, path, Seq(3L).toDF("k"))
    val e = intercept[IllegalArgumentException] {
      JoinView.mergedAsOf(spark, path, 0)
    }
    assert(e.getMessage.contains("forget"))
  }

  test("forget raises the floor for ids present ONLY in an uncommitted orphan batch") {
    val path = Files.createTempDirectory("graft_jv_orphfgt_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    JoinView.ingest(mkA(A.slice(14, 28)), mkB(B.slice(10, 20)), "k", path)
    // a crashed writer's orphan append: key 999 exists NOWHERE committed
    val orphan = mkA(Seq(999L -> "orphan")).withColumn("bv", lit(0L))
    val kb = orphan.select(KeyBuckets.kbFor(orphan, "k").as("kb")).first().getInt(0)
    orphan.write.parquet(s"$path/view/kb=$kb/batch=2")
    val spark0 = spark
    import spark0.implicits._
    // the existence probe must SEE the orphan rows (r14 ADVICE): once the
    // retried ingest commits batch 2, an as-of below the floor would
    // otherwise silently omit the forgotten key instead of failing loudly
    JoinView.forget(spark, path, Seq(999L).toDF("k"))
    val e = intercept[IllegalArgumentException] {
      JoinView.mergedAsOf(spark, path, 0)
    }
    assert(e.getMessage.contains("forget"),
      "ids hidden only from an orphan batch must still raise the retention floor")
  }

  test("a pre-r13 in-dir schema sidecar fails loudly with a rebuild instruction") {
    val path = Files.createTempDirectory("graft_jv_legacy_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    // simulate the pre-r13 layout: the sidecar sits INSIDE the data dir
    val conf = spark.sessionState.newHadoopConf()
    val sib = new org.apache.hadoop.fs.Path(s"${path}/view_schema")
    val fs = sib.getFileSystem(conf)
    fs.rename(sib, new org.apache.hadoop.fs.Path(s"$path/view/_schema"))
    val e = intercept[IllegalStateException] { JoinView.merged(spark, path) }
    assert(e.getMessage.contains("rebuild"), s"unexpected message: ${e.getMessage}")
  }

  test("a restarted checkpoint whose id space was taken fails loudly, not silently") {
    val path = Files.createTempDirectory("graft_jv_taken_").toString
    val src = Files.createTempDirectory("graft_jv_taken_src_").toString
    val cp = Files.createTempDirectory("graft_jv_taken_cp_").toString
    JoinView.build(mkA(Nil), mkB(B), "k", path)
    val schema = mkA(Nil).schema
    mkA(A.take(14)).coalesce(1).write.parquet(s"$src/f0")
    val s1 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/f*")
    val q1 = JoinView.ingestStream(s1, "k", path, cp)
    try q1.processAllAvailable() finally q1.stop()
    // a batch-API write while the stream is stopped takes the next id
    JoinView.ingest(mkA(A.slice(14, 28)), mkB(Nil), "k", path)
    // restart with new data: the stale pinned base must NOT silently no-op
    mkA(A.drop(28)).coalesce(1).write.parquet(s"$src/f1")
    val s2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/f*")
    val q2 = JoinView.ingestStream(s2, "k", path, cp)
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("FRESH checkpoint")),
      s"expected the loud id-space guard, got: ${messages(e).mkString(" | ")}")
    // and no data was silently dropped or duplicated up to the guard
    assert(viewSet(path) == joinSet(A.take(28), B))
  }

  test("a plain ingest whose delta hits all three terms lands one file per view bucket") {
    val path = Files.createTempDirectory("graft_jv_files_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    // new A rows meet stored B, new B rows meet stored A, and new A meets
    // new B — three union branches, each spread over several partitions
    val da = mkA(A.slice(14, 28)).repartition(4)
    val db = mkB(B.slice(10, 20)).repartition(4)
    assert(JoinView.deltaView(spark, path, da, db, "k").count() >
      joinSet(A.slice(14, 28), B.take(10)).size + joinSet(A.take(14), B.slice(10, 20)).size,
      "fixture must hit the new-a x new-b term too")
    JoinView.ingest(da, db, "k", path)
    val glob = new org.apache.hadoop.fs.Path(s"$path/view/kb=*/batch=1")
    val fs = glob.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.globStatus(glob)
    assert(dirs.nonEmpty)
    for (d <- dirs) {
      val files = fs.listStatus(d.getPath).map(_.getPath.getName).filter(_.endsWith(".parquet"))
      assert(files.length <= 1, s"${d.getPath} holds ${files.length} files")
    }
    assert(viewSet(path) == joinSet(A.take(28), B.take(20)))
  }

  test("a mismatched persisted bucket count fails loudly at the writer") {
    val path = Files.createTempDirectory("graft_jv_nb_").toString
    JoinView.build(mkA(A.take(14)), mkB(B.take(10)), "k", path)
    KeyBuckets.publish(spark, path, nb = 16)
    val e = intercept[IllegalArgumentException] {
      JoinView.ingest(mkA(A.slice(14, 28)), mkB(Nil), "k", path)
    }
    assert(e.getMessage.contains("_graft_buckets"))
  }

  test("streamed one-sided ingest equals the batch-built view") {
    val path = Files.createTempDirectory("graft_jv_stream_").toString
    val src = Files.createTempDirectory("graft_jv_stream_src_").toString
    val cp = Files.createTempDirectory("graft_jv_stream_cp_").toString
    JoinView.build(mkA(Nil), mkB(B), "k", path)
    // three files -> three micro-batches of the A side
    A.grouped(14).zipWithIndex.foreach { case (sl, i) =>
      mkA(sl).coalesce(1).write.parquet(s"$src/f$i")
    }
    val schema = mkA(Nil).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/f*")
    val q = JoinView.ingestStream(stream, "k", path, cp)
    try q.processAllAvailable() finally q.stop()
    assert(viewSet(path) == joinSet(A, B))
  }
}
