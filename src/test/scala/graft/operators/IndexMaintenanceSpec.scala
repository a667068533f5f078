package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** Compaction must change the FILE LAYOUT of a persisted index and nothing
  * else: same rows (batch ids, replayed duplicates included), same probe
  * answers, same nextBatch, and — for the partitioned IVF-PQ layout — the
  * same partition directories and pruning.
  */
class IndexMaintenanceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("signature index: files collapse; rows, probe, and nextBatch invariant") {
    val path = Files.createTempDirectory("graft_cmp_sig_").toString + "/idx"
    val docs = Tables.load(spark, sfDir, "documents")
    val b = pmod(col("doc_id"), lit(5)).cast("int")
    SignatureIndex.build(docs.filter(b === 0), path)
    (1 to 4).foreach(i => SignatureIndex.ingest(docs.filter(b === i), path, batch = i))
    // a deliberate duplicate append — the at-least-once shape compaction
    // must NOT collapse away (set semantics belong to the probe, not the
    // storage): rows survive with their multiplicity
    SignatureIndex.ingest(docs.filter(b === 4), path, batch = 4)

    val rowsBefore = spark.read.parquet(path)
      .orderBy("doc_id", "batch").collect().toSeq
    val probeBefore = SignatureIndex.probe(spark, path, batch = 4)
      .orderBy("doc_id").collect().toSeq

    val (nBefore, nAfter) = IndexMaintenance.compact(spark, path)
    assert(nBefore >= 6, s"expected one file per write before compaction, got $nBefore")
    assert(nAfter < nBefore, s"compaction was a no-op: $nBefore -> $nAfter")
    assert(nAfter == 1, s"tiny index must compact to one file, got $nAfter")

    assert(spark.read.parquet(path).orderBy("doc_id", "batch").collect().toSeq
      == rowsBefore, "compaction changed stored rows")
    assert(SignatureIndex.probe(spark, path, batch = 4)
      .orderBy("doc_id").collect().toSeq == probeBefore,
      "compaction changed probe answers")
    assert(IndexStream.nextBatch(spark, path) == 5,
      "compaction must preserve the stored batch sequence")
  }

  test("partitioned IVF-PQ index: per-list layout and query results invariant") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cents = IvfPqIndex.centroidsOf(emb)
    val cb = PqIndex.codebookOf(emb)
    val path = Files.createTempDirectory("graft_cmp_ivfpq_").toString + "/idx"
    IvfPqIndex.build(emb.filter(col("vec_id") % 3 === 0), cents, cb, path)
    IvfPqIndex.ingest(emb.filter(col("vec_id") % 3 === 1), cents, cb, path)
    IvfPqIndex.ingest(emb.filter(col("vec_id") % 3 === 2), cents, cb, path)

    val probe = cents.find(_._1 == 1L).get._2
    val before = IvfPqIndex.query(spark, path, probe, cents, cb, topN = 5)
      .collect().toSeq
    def listDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list=")).map(_.getName).toSet
    val dirsBefore = listDirs

    val (nBefore, nAfter) = IndexMaintenance.compact(
      spark, path, partitionCols = Seq("list"))
    assert(nAfter < nBefore, s"compaction was a no-op: $nBefore -> $nAfter")

    assert(listDirs == dirsBefore,
      "compaction must preserve the list= partition directories")
    val after = IvfPqIndex.query(spark, path, probe, cents, cb, topN = 5)
    assert(after.collect().toSeq == before, "compaction changed query results")
    // nProbe restriction must still be literal partition pruning
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"pruning lost after compaction:\n$plan")
  }

  test("a 100-micro-batch stream self-compacts: bounded files, answers unchanged") {
    // the auto-compaction policy (IndexStream.appendWithBatchIds): nobody
    // schedules a maintenance window for an index that never stops
    // ingesting, so the stream compacts itself whenever an append leaves
    // more than `autoCompactFragments` files — 100 single-doc micro-batches
    // must end file-count-bounded with every row and batch id intact
    val base = Files.createTempDirectory("graft_autocompact_").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 100).select("doc_id", "text")
    docs.repartition(100).write.parquet(s"$base/src")
    val nSrc = IndexMaintenance.dataFileCount(spark, s"$base/src")
    assert(nSrc == 100, s"fixture should be 100 source files, got $nSrc")

    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val listingsBefore = IndexMaintenance.listings.get()
    val q = SignatureIndex.ingestStream(streamed, s"$base/idx", s"$base/cp",
      autoCompactFragments = 8)
    try q.processAllAvailable() finally q.stop()
    // the running-counter policy: the threshold test must NOT list per
    // trigger — 100 triggers at threshold 8 means ~13 crossings, each an
    // exact listing (+ compaction and its post-listing), plus the stream's
    // seed listing. Anything near 100 means the per-trigger listing is back.
    val listingsUsed = IndexMaintenance.listings.get() - listingsBefore
    assert(listingsUsed <= 45,
      s"expected the running file counter to amortize listings (~1 per " +
        s"threshold crossing), got $listingsUsed for 100 triggers")

    val frags = IndexMaintenance.dataFileCount(spark, s"$base/idx")
    assert(frags <= 9, s"stream ended with $frags fragments (policy: >8 compacts)")
    val stored = spark.read.parquet(s"$base/idx")
    assert(stored.select("batch").distinct().count() == 100,
      "compaction must preserve every micro-batch id")
    val twin = Files.createTempDirectory("graft_autocompact_twin_").toString
    SignatureIndex.build(docs, twin)
    assert(stored.select("doc_id", "simhash").orderBy("doc_id").collect().toSeq ==
      spark.read.parquet(twin).select("doc_id", "simhash").orderBy("doc_id").collect().toSeq,
      "self-compacting stream must store the same signatures as a batch build")
  }

  test("recover heals every crashed-swap state without data loss") {
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_recover_").toString
    val path = s"$base/idx"
    val docs = Tables.load(spark, sfDir, "documents")
    SignatureIndex.build(docs, path)
    val want = spark.read.parquet(path).orderBy("doc_id").collect().toSeq
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def readBack() = spark.read.parquet(path).orderBy("doc_id").collect().toSeq

    // state A: live renamed aside, tmp holds the complete compacted copy
    // (crash between the two swap renames) — recover must finish the swap
    fs.rename(new Path(path), new Path(path + ".compact_tmp"))
    IndexMaintenance.recover(spark, path)
    assert(readBack() == want, "state A: tmp copy must become live")
    assert(!fs.exists(new Path(path + ".compact_tmp")))

    // state B: live in trash, tmp gone (crash after tmp->live then live
    // externally lost — strictly worse than any real window) — restore
    fs.rename(new Path(path), new Path(path + ".compact_trash"))
    IndexMaintenance.recover(spark, path)
    assert(readBack() == want, "state B: trash must be restored")

    // state C: a stale half-written tmp beside an intact live (crash
    // before the swap started) — live is authoritative, tmp is waste
    fs.mkdirs(new Path(path + ".compact_tmp"))
    IndexMaintenance.recover(spark, path)
    assert(readBack() == want)
    assert(!fs.exists(new Path(path + ".compact_tmp")), "state C: stale tmp dropped")

    // state D: leftover trash beside an intact live (cleanup died)
    fs.mkdirs(new Path(path + ".compact_trash"))
    IndexMaintenance.recover(spark, path)
    assert(readBack() == want)
    assert(!fs.exists(new Path(path + ".compact_trash")), "state D: trash dropped")

    // read-side callers must NOT destructively heal (a reader racing a
    // live compaction could delete the writer's fully-written tmp —
    // ADVICE r10): on a stranded state nextBatch fails LOUDLY instead of
    // reading as "fresh index" and handing out batch 0 ...
    fs.rename(new Path(path), new Path(path + ".compact_tmp"))
    val ex = intercept[IllegalStateException](IndexStream.nextBatch(spark, path))
    assert(ex.getMessage.contains("stranded"), ex.getMessage)
    // ... and a writer entry point heals it, after which nextBatch answers
    IndexMaintenance.recover(spark, path)
    assert(IndexStream.nextBatch(spark, path) == 1)
    assert(readBack() == want)
  }

  test("tombstones appended during a compaction survive it, still pending") {
    // the always-on un-delete window (ADVICE r10): with auto-compaction
    // running inside ingest streams, a forget() can land while a rewrite
    // is in flight. The rewrite applies a SNAPSHOT of the tombstone files;
    // any file appended after that snapshot rides live->trash with the old
    // directory, and the final trash delete would silently destroy it —
    // the 'forgotten' docs would reappear in the live view. The rescue
    // step must re-home exactly the unapplied files into the new live dir.
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_tomb_race_").toString
    val path = s"$base/idx"
    val docs = Tables.load(spark, sfDir, "documents").limit(50)
    SignatureIndex.build(docs, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

    // applied-at-snapshot tombstone: doc 0
    SignatureIndex.forget(spark, path, spark.range(1).selectExpr("0L as doc_id"))
    val snapshot = fs.listStatus(new Path(path + "/_tombstones"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    assert(snapshot.nonEmpty)

    // the race, deterministically: doc 1's forget lands AFTER the snapshot
    // (emulated by appending it now and driving the rescue step directly
    // against a trash dir holding both files — the exact state compact
    // reaches between its swap and its trash delete)
    SignatureIndex.forget(spark, path, spark.range(1).selectExpr("1L as doc_id"))
    val trash = new Path(path + ".compact_trash_fixture")
    fs.mkdirs(trash)
    require(fs.rename(new Path(path + "/_tombstones"), new Path(trash, "_tombstones")))
    IndexMaintenance.rescueUnappliedTombstones(fs, trash, new Path(path), snapshot)

    // doc 1's unapplied file was re-homed into the live dir, still pending;
    // doc 0's applied file stayed in trash, destined for the delete
    val rescued = fs.listStatus(new Path(path + "/_tombstones"))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    assert(rescued.nonEmpty && rescued.intersect(snapshot).isEmpty,
      s"rescue must move exactly the post-snapshot files: $rescued vs $snapshot")
    val pending = spark.read.parquet(path + "/_tombstones")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pending == Set(1L),
      s"doc 1's mid-flight forget must still be pending, got $pending")
    fs.delete(trash, true)

    // and end-to-end through compact(): the pending tombstone is applied
    // by the NEXT compaction, so the forgotten doc never reappears
    assert(Tombstones.live(spark, path).where("doc_id = 1").count() == 0)
    IndexMaintenance.compact(spark, path)
    assert(spark.read.parquet(path).where("doc_id = 1").count() == 0)
  }

  test("reclaiming every row of the max batch never re-issues its id") {
    // ADVICE r10: if all rows of the highest batch are tombstoned, the
    // rewrite drops them and a marker-less nextBatch would hand the id
    // out again — probe(batch=N) history and pinned stream bases break.
    // The sidecar max-batch marker must preserve the high-water mark.
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_maxbatch_").toString
    val path = s"$base/idx"
    val docs = Tables.load(spark, sfDir, "documents")
    val b = pmod(col("doc_id"), lit(2)).cast("int")
    SignatureIndex.build(docs.filter(b === 0), path)
    SignatureIndex.ingest(docs.filter(b === 1), path, batch = 1)
    assert(IndexStream.nextBatch(spark, path) == 2)

    // forget EVERY doc of batch 1, then compact: batch 1's rows are all
    // reclaimed, but its id must stay burned
    SignatureIndex.forget(spark, path,
      docs.filter(b === 1).select("doc_id"))
    IndexMaintenance.compact(spark, path)
    val stored = spark.read.parquet(path)
    assert(stored.agg(max("batch")).first().getInt(0) == 0,
      "batch 1 rows should be physically reclaimed")
    assert(IndexStream.nextBatch(spark, path) == 2,
      "nextBatch must never shrink past a reclaimed max batch")
    // and the marker survives a SUBSEQUENT compaction + further ingest
    SignatureIndex.ingest(docs.filter(b === 0).limit(5), path, batch = 2)
    IndexMaintenance.compact(spark, path)
    assert(IndexStream.nextBatch(spark, path) == 3)
  }

  test("recover's swap-done branch rescues sidecars and pending tombstones from trash") {
    // ADVICE r11: compact()'s happy path rescues trash state before the
    // final delete, but a crash between the tmp->live rename and the
    // rescue calls leaves live + trash on disk — and recover()'s
    // 'cleanup died' branch used to delete trash UNRESCUED, permanently
    // destroying SqIndex's _scale sidecar (index unreadable until
    // rebuilt) and any tombstone appended after the rewrite's snapshot.
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_recover_rescue_").toString
    val path = s"$base/idx"
    val docs = Tables.load(spark, sfDir, "documents").limit(50)
    SignatureIndex.build(docs, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

    // the crash state: live is the (already swapped-in) rewrite; trash
    // holds the old dir carrying a sidecar the rewrite did not produce
    // and a tombstone file the rewrite's snapshot never saw
    val trash = new Path(path + ".compact_trash")
    fs.mkdirs(new Path(trash, "_scale"))
    val out = fs.create(new Path(trash, "_scale/part-0.parquet"), true)
    try out.write("sidecar-bytes".getBytes("UTF-8")) finally out.close()
    // a pending tombstone in trash, written through the real forget path
    // against a scratch dir so the parquet bytes are genuine
    val scratch = s"$base/scratch"
    SignatureIndex.build(docs.limit(1), scratch)
    SignatureIndex.forget(spark, scratch, spark.range(1).selectExpr("7L as doc_id"))
    require(fs.rename(new Path(scratch + "/_tombstones"), new Path(trash, "_tombstones")))

    IndexMaintenance.recover(spark, path)

    assert(!fs.exists(trash), "recover must still clear the trash")
    assert(fs.exists(new Path(path, "_scale/part-0.parquet")),
      "the _scale sidecar must survive recover's swap-done branch")
    val pending = spark.read.parquet(path + "/_tombstones")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pending == Set(7L),
      s"the post-snapshot tombstone must be rescued still-pending, got $pending")
    // and the rescued tombstone is LIVE-effective immediately
    assert(Tombstones.live(spark, path).where("doc_id = 7").count() == 0)
  }

  test("sortCols compaction: rows invariant, batch probes skip non-matching files") {
    val spark0 = spark
    import spark0.implicits._
    def mk(path: String, sortCols: Seq[String]): Unit = {
      // 8 batches x 4k rows, appended batch-at-a-time like an ingest
      // stream would
      for (b <- 0 until 8)
        (0 until 4000).map(i => (b * 10000L + i, s"sig$i", b))
          .toDF("key", "sig", "batch")
          .write.mode("append").parquet(path)
      IndexMaintenance.compact(spark, path, targetBytes = 48L * 1024,
        sortCols = sortCols)
    }
    val sorted = java.nio.file.Files.createTempDirectory("graft_cpt_sort_").toString
    val plain = java.nio.file.Files.createTempDirectory("graft_cpt_plain_").toString
    mk(sorted, Seq("batch")); mk(plain, Nil)
    // same row set either way — sorting permutes, never edits
    assert(spark.read.parquet(sorted).collect().map(_.toString).sorted.toSeq ==
      spark.read.parquet(plain).collect().map(_.toString).sorted.toSeq)
    // the probe shape every index runs: filter batch = N. Over the
    // range-clustered rewrite the pushed filter's file/row-group min-max
    // skip the other batches' files; over the shuffle rewrite every file
    // carries every batch and the scan decodes everything.
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path).filter(col("batch") === 3)
      val scans = fileScans(df)
      assert(scans.nonEmpty)
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val (s, p) = (scanRows(sorted), scanRows(plain))
    assert(s < p / 2,
      s"sorted compaction must skip non-matching batches at the scan: sorted=$s plain=$p")
    assert(s >= 4000, s"the matching batch itself must survive: $s")
  }
}
