package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The CDC (upsert-mode) join view: the sign-resolved view equals the
  * one-shot join over LATEST-STATE inputs after every batch, under any
  * interleaving of side-a/side-b/both-sides upserts; replay is
  * exactly-once; the mode markers fail a mismatched writer loudly; time
  * travel stays exact (retractions are history, not rewrites); forget
  * still hides a key end to end.
  */
class JoinViewCdcSpec extends SparkSpec {

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

  /** Latest-state reference: apply upsert batches in order, join. */
  private def latestJoin(aBatches: Seq[Seq[(Long, String)]],
                         bBatches: Seq[Seq[(Long, Long)]]): Set[(Long, String, Long)] = {
    val a = aBatches.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    val b = bBatches.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    (for ((k, av) <- a; bv <- b.get(k)) yield (k, av, bv)).toSet
  }

  private val A0 = (1L to 12L).map(k => (k, s"a$k"))
  private val B0 = (1L to 10L).map(k => (k, k * 100))

  test("sign-resolved view equals the latest-state join after every upsert batch") {
    val path = Files.createTempDirectory("graft_jvcdc_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    val a1 = Seq(3L -> "a3'", 7L -> "a7'", 13L -> "a13") // update + insert
    val b1 = Seq.empty[(Long, Long)]
    val a2 = Seq.empty[(Long, String)]
    val b2 = Seq(3L -> 333L, 13L -> 1300L, 11L -> 1100L) // overlap + new pair
    val a3 = Seq(5L -> "a5'") // both sides, same key, same batch
    val b3 = Seq(5L -> 555L, 9L -> 900L)
    val as = Seq(A0, a1, a2, a3); val bs = Seq(B0, b1, b2, b3)
    JoinView.ingestCdc(mkA(a1), mkB(b1), "k", path)
    assert(viewSet(path) == latestJoin(as.take(2), bs.take(2)))
    JoinView.ingestCdc(mkA(a2), mkB(b2), "k", path)
    assert(viewSet(path) == latestJoin(as.take(3), bs.take(3)))
    JoinView.ingestCdc(mkA(a3), mkB(b3), "k", path)
    assert(viewSet(path) == latestJoin(as, bs))
    // re-upserting an IDENTICAL row image is a net no-op in the resolve
    JoinView.ingestCdc(mkA(Seq(5L -> "a5'")), mkB(Nil), "k", path)
    assert(viewSet(path) == latestJoin(as, bs))
  }

  test("upsert current-state reads are bucket-pruned to the delta's keys") {
    val path = Files.createTempDirectory("graft_jvcdc_prune_").toString
    JoinView.build(mkA((0L until 64L).map(i => (i, s"a$i"))),
      mkB((0L until 64L).map(i => (i, i))), "k", path, cdc = true)
    val dv = JoinView.cdcDeltaView(spark, path,
      mkA(Seq(5L -> "new")), mkB(Seq(9L -> 900L)), "k")
    val stored = fileScans(dv).filter(
      _.relation.location.rootPaths.exists(p =>
        p.toString.endsWith("/a") || p.toString.endsWith("/b")))
    assert(stored.nonEmpty, "no stored-side scans found in the CDC delta plan")
    stored.foreach { scan =>
      assert(scan.partitionFilters.exists(_.toString.contains("kb")),
        s"stored scan not bucket-pruned: ${scan.partitionFilters}")
      // two touched keys -> at most 2 of NB bucket directories survive
      assert(scan.selectedPartitions.partitionCount <= 2,
        s"expected <=2 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    }
  }

  test("explicit already-committed batch id is an exactly-once no-op; gaps fail") {
    val path = Files.createTempDirectory("graft_jvcdc_replay_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    JoinView.ingestCdc(mkA(Seq(3L -> "a3'")), mkB(Nil), "k", path, batch = 1)
    val once = viewSet(path)
    JoinView.ingestCdc(mkA(Seq(3L -> "a3'")), mkB(Nil), "k", path, batch = 1)
    assert(viewSet(path) == once, "a replayed upsert batch must not double-apply")
    intercept[IllegalArgumentException] {
      JoinView.ingestCdc(mkA(Nil), mkB(Nil), "k", path, batch = 7)
    }
  }

  test("mode markers: plain ingest on a CDC view (and the reverse) fail loudly") {
    val cdcPath = Files.createTempDirectory("graft_jvcdc_mode_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", cdcPath, cdc = true)
    val e1 = intercept[IllegalArgumentException] {
      JoinView.ingest(mkA(Seq(3L -> "x")), mkB(Nil), "k", cdcPath)
    }
    assert(e1.getMessage.contains("ingestCdc"))
    val plainPath = Files.createTempDirectory("graft_jvplain_mode_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", plainPath)
    val e2 = intercept[IllegalArgumentException] {
      JoinView.ingestCdc(mkA(Seq(3L -> "x")), mkB(Nil), "k", plainPath)
    }
    assert(e2.getMessage.contains("cdc = true"))
  }

  test("time travel: the prefix sign-resolve is the state as of that batch, floor intact") {
    val path = Files.createTempDirectory("graft_jvcdc_asof_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    JoinView.ingestCdc(mkA(Seq(3L -> "a3'")), mkB(Nil), "k", path)
    JoinView.ingestCdc(mkA(Seq(3L -> "a3''")), mkB(Seq(9L -> 999L)), "k", path)
    def asOf(b: Int) = JoinView.mergedAsOf(spark, path, b).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(asOf(0) == latestJoin(Seq(A0), Seq(B0)))
    assert(asOf(1) == latestJoin(Seq(A0, Seq(3L -> "a3'")), Seq(B0)))
    assert(asOf(2) == viewSet(path))
  }

  test("foldCdc consolidates to the resolved state: answers invariant, floor raised, later upserts exact") {
    val path = Files.createTempDirectory("graft_jvcdc_fold_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    JoinView.ingestCdc(mkA(Seq(3L -> "a3'", 13L -> "a13")), mkB(Seq(13L -> 1300L)), "k", path)
    val before = viewSet(path)
    JoinView.foldCdc(spark, path)
    assert(viewSet(path) == before, "fold changed the resolved state")
    // the signed log is now state-sized: one +1 row per live pair
    val raw = spark.read.parquet(s"$path/view")
    assert(raw.count() == before.size, "folded view must hold exactly the resolved rows")
    assert(raw.select("sgn").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    // time travel below the fold point fails loudly at the floor
    val e = intercept[IllegalArgumentException] { JoinView.mergedAsOf(spark, path, 0) }
    assert(e.getMessage.contains("foldCdc"))
    // upserts AFTER the fold retract against the folded rows exactly
    JoinView.ingestCdc(mkA(Seq(3L -> "a3''")), mkB(Seq(9L -> 999L)), "k", path)
    val want = latestJoin(Seq(A0, Seq(3L -> "a3'", 13L -> "a13"), Seq(3L -> "a3''")),
      Seq(B0, Seq(13L -> 1300L), Seq(9L -> 999L)))
    assert(viewSet(path) == want, "post-fold upsert diverged from latest-state join")
    // a fold after a forget applies + retires the tombstones (keys stay hidden)
    val spark0 = spark
    import spark0.implicits._
    JoinView.forget(spark, path, Seq(13L).toDF("k"))
    JoinView.foldCdc(spark, path)
    assert(viewSet(path) == want.filterNot(_._1 == 13L))
    assert(!new java.io.File(s"$path/view/_tombstones").exists,
      "fold must retire applied delete vectors with the swap")
  }

  test("CDC deletes: insert -> update -> delete -> re-insert tracks the latest state; history stays exact") {
    val spark0 = spark
    import spark0.implicits._
    val path = Files.createTempDirectory("graft_jvcdc_del_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    // batch 1: update 3, insert 13 (a-side)
    JoinView.ingestCdc(mkA(Seq(3L -> "a3'", 13L -> "a13")), mkB(Nil), "k", path)
    // batch 2: DELETE a-keys 3 and 7; DELETE b-key 9 — pairs must vanish
    JoinView.ingestCdc(mkA(Nil), mkB(Nil), "k", path,
      delA = Seq(3L, 7L).toDF("k"), delB = Seq(9L).toDF("k"))
    val afterDel = viewSet(path)
    assert(!afterDel.exists(r => Set(3L, 7L, 9L)(r._1)),
      s"deleted keys still joined: $afterDel")
    assert(afterDel == latestJoin(Seq(A0, Seq(3L -> "a3'", 13L -> "a13")), Seq(B0))
      .filterNot(r => Set(3L, 7L, 9L)(r._1)))
    // batch 3: RE-INSERT key 3 with a fresh image — ordinary +1 row,
    // out-batches the delete marker
    JoinView.ingestCdc(mkA(Seq(3L -> "a3+")), mkB(Nil), "k", path)
    val afterRe = viewSet(path)
    assert(afterRe.contains((3L, "a3+", 300L)), s"re-inserted key missing: $afterRe")
    assert(!afterRe.exists(r => r._1 == 7L || r._1 == 9L))
    // same-batch delete-a + upsert-b on DIFFERENT keys composes
    JoinView.ingestCdc(mkA(Nil), mkB(Seq(2L -> 222L)), "k", path, delA = Seq(4L).toDF("k"))
    val afterMix = viewSet(path)
    assert(afterMix.contains((2L, "a2", 222L)) && !afterMix.exists(_._1 == 4L))
    // history: the as-of BEFORE the delete batch still shows the pairs alive
    val asOf1 = JoinView.mergedAsOf(spark, path, 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(asOf1 == latestJoin(Seq(A0, Seq(3L -> "a3'", 13L -> "a13")), Seq(B0)),
      "CDC delete rewrote history — prefix time travel must keep pre-delete pairs")
    // deleting a never-present key is a benign no-op
    JoinView.ingestCdc(mkA(Nil), mkB(Nil), "k", path, delA = Seq(99L).toDF("k"))
    assert(viewSet(path) == afterMix)
  }

  test("foldCdc drops delete-marked keys from the folded sides; post-fold re-insert works") {
    val spark0 = spark
    import spark0.implicits._
    val path = Files.createTempDirectory("graft_jvcdc_delfold_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    JoinView.ingestCdc(mkA(Nil), mkB(Nil), "k", path, delA = Seq(3L, 7L).toDF("k"))
    val before = viewSet(path)
    JoinView.foldCdc(spark, path)
    assert(viewSet(path) == before, "fold changed the resolved state under deletes")
    // folded a-side holds neither the deleted keys' images nor their markers
    val aFolded = spark.read.parquet(s"$path/a")
    assert(aFolded.filter(col("k").isin(3L, 7L)).isEmpty,
      "delete-marked keys survived the side fold")
    assert(aFolded.select("sgn").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    // re-insert after the fold: retracts nothing (pair is gone), inserts fresh
    JoinView.ingestCdc(mkA(Seq(3L -> "a3+")), mkB(Nil), "k", path)
    assert(viewSet(path) == before + ((3L, "a3+", 300L)))
  }

  test("one-row-per-key delta contract is enforced loudly; the aborted batch stays invisible") {
    val spark0 = spark
    import spark0.implicits._
    val path = Files.createTempDirectory("graft_jvcdc_guard_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    val before = viewSet(path)
    // two row images for one key in one batch
    val e1 = intercept[IllegalArgumentException] {
      JoinView.ingestCdc(mkA(Seq(3L -> "x", 3L -> "y")), mkB(Nil), "k", path)
    }
    assert(e1.getMessage.contains("row-image contract"))
    // an upsert AND a delete for the same key in one batch is ambiguous too
    val e2 = intercept[IllegalArgumentException] {
      JoinView.ingestCdc(mkA(Seq(5L -> "z")), mkB(Nil), "k", path, delA = Seq(5L).toDF("k"))
    }
    assert(e2.getMessage.contains("row-image contract"))
    // aborted batches never committed: reads unchanged, next ingest heals
    assert(viewSet(path) == before)
    JoinView.ingestCdc(mkA(Seq(3L -> "ok")), mkB(Nil), "k", path)
    assert(viewSet(path) == before.filterNot(_._1 == 3L) + ((3L, "ok", 300L)))
    // the base build enforces the contract as well
    val e3 = intercept[IllegalArgumentException] {
      JoinView.build(mkA(Seq(1L -> "p", 1L -> "q")), mkB(B0), "k",
        Files.createTempDirectory("graft_jvcdc_guard0_").toString, cdc = true)
    }
    assert(e3.getMessage.contains("row-image contract"))
  }

  test("cdcStream: upserts and deletes in one changefeed, a mixed trigger applies atomically") {
    val spark0 = spark
    import spark0.implicits._
    val path = Files.createTempDirectory("graft_jvcdc_opstream_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    val base = Files.createTempDirectory("graft_jvcdc_opsrc_").toString
    def mkOps(rows: Seq[(Long, String, String)]): DataFrame =
      rows.toDF("k", "av", "op")
    // trigger 0: plain upsert; trigger 1 MIXES an upsert (key 6) with
    // deletes (keys 3 and 9) — different keys, one batch id, atomic
    graft.StreamFixtures.oneFile(mkOps(Seq((3L, "a3'", "u"))),
      s"$base/src/s0.parquet", 1000000000000L)
    graft.StreamFixtures.oneFile(
      mkOps(Seq((6L, "a6'", "u"), (3L, null, "d"), (9L, null, "d"))),
      s"$base/src/s1.parquet", 1000000060000L)
    // trigger 2: re-insert a deleted key
    graft.StreamFixtures.oneFile(mkOps(Seq((3L, "a3+", "u"))),
      s"$base/src/s2.parquet", 1000000120000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, av STRING, op STRING")
    val streamed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = JoinView.cdcStream(streamed, "k", path, s"$base/cp")
    try q.processAllAvailable() finally q.stop()
    val got = viewSet(path)
    assert(got.contains((3L, "a3+", 300L)), s"re-insert after streamed delete lost: $got")
    assert(got.contains((6L, "a6'", 600L)), "mixed-trigger upsert lost")
    assert(!got.exists(_._1 == 9L), "streamed delete did not kill the pair")
    // the mixed trigger landed under ONE batch id: ledger = 3 triggers + build
    // and the as-of after trigger 1 (batch 2) shows upsert AND deletes applied
    val asOf2 = JoinView.mergedAsOf(spark, path, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(asOf2.contains((6L, "a6'", 600L)) &&
      !asOf2.exists(r => r._1 == 3L || r._1 == 9L),
      s"mixed trigger was not atomic under one batch id: $asOf2")
  }

  test("a payload column named sgn is rejected at build on both modes") {
    val spark0 = spark
    import spark0.implicits._
    val withSgn = Seq((1L, "a", 1)).toDF("k", "av", "sgn")
    val other = Seq((1L, 10L)).toDF("k", "bv")
    for (cdc <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException] {
        JoinView.build(withSgn, other, "k",
          Files.createTempDirectory("graft_jvcdc_sgncol_").toString, cdc = cdc)
      }
      assert(e.getMessage.contains("sgn"))
    }
  }

  test("forget hides a key from the resolved view; streamed upserts equal batch ones") {
    val path = Files.createTempDirectory("graft_jvcdc_fgt_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    JoinView.ingestCdc(mkA(Seq(3L -> "a3'")), mkB(Nil), "k", path)
    val spark0 = spark
    import spark0.implicits._
    JoinView.forget(spark, path, Seq(3L).toDF("k"))
    assert(viewSet(path).forall(_._1 != 3L), "forgotten key visible after upserts")
    // streamed wiring: one upsert per trigger through upsertStream
    val base = Files.createTempDirectory("graft_jvcdc_stream_").toString
    graft.StreamFixtures.oneFile(mkA(Seq(5L -> "a5'")), s"$base/src/s0.parquet",
      1000000000000L)
    graft.StreamFixtures.oneFile(mkA(Seq(5L -> "a5''", 6L -> "a6'")),
      s"$base/src/s1.parquet", 1000000060000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, av STRING")
    val streamed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = JoinView.upsertStream(streamed, "k", path, s"$base/cp")
    try q.processAllAvailable() finally q.stop()
    val got = viewSet(path)
    assert(got.contains((5L, "a5''", 500L)) && got.contains((6L, "a6'", 600L)),
      s"streamed upserts not applied: $got")
    assert(!got.exists(r => r._1 == 5L && r._2 != "a5''"),
      "stale row image survived a streamed upsert")
  }

  // ------------------------------------------------------------------
  // pd= day layout (r17 verdict #1): the pruned recompute source for
  // day-keyed consumers
  // ------------------------------------------------------------------

  private def mkAts(rows: Seq[(Long, String, String)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("k", "av", "d")
      .withColumn("ts", col("d").cast("timestamp")).drop("d")
  }

  private def dayOfK(k: Long): String = f"2024-01-${(k % 4) + 1}%02d"

  private val A0ts = (1L to 16L).map(k => (k, s"a$k", s"${dayOfK(k)} 08:00:00"))

  private def dayViewSet(df: DataFrame): Set[(Long, String, java.sql.Timestamp, Long)] =
    df.select("k", "av", "ts", "bv").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getLong(3))).toSet

  test("mergedForDays equals the day-filtered merge and prunes the view scan at storage") {
    val path = Files.createTempDirectory("graft_jvcdc_day_").toString
    val spark0 = spark
    import spark0.implicits._
    JoinView.build(mkAts(A0ts), mkB((1L to 16L).map(k => (k, k * 100))), "k",
      path, cdc = true, dayCol = "ts")
    // update a day-2 key, delete a day-3 key — corrections land under the
    // SAME pd as the rows they retract (value-identical retractions)
    JoinView.ingestCdc(mkAts(Seq((5L, "a5'", s"${dayOfK(5L)} 09:00:00"))),
      mkB(Nil), "k", path, delA = Seq(6L).toDF("k"))
    val days = Seq(dayOfK(5L)) // "2024-01-02"
    val got = JoinView.mergedForDays(spark, path, days)
    val want = JoinView.merged(spark, path)
      .filter(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .isin(days.map(d => d: Any): _*))
    assert(dayViewSet(got) == dayViewSet(want),
      "mergedForDays diverges from the day-filtered full merge")
    assert(dayViewSet(got).nonEmpty && dayViewSet(got).contains(
      (5L, "a5'", java.sql.Timestamp.valueOf(s"${dayOfK(5L)} 09:00:00"), 500L)))
    // storage pruning: the pd filter must land in PartitionFilters and
    // select strictly fewer partitions than the full merged read
    val prunedParts = {
      val scans = fileScans(got).filter(
        _.relation.location.rootPaths.exists(_.toString.endsWith("/view")))
      assert(scans.nonEmpty, "no view scan in mergedForDays plan")
      scans.foreach(sc =>
        assert(sc.partitionFilters.exists(_.toString.contains("pd")),
          s"pd filter not in PartitionFilters: ${sc.partitionFilters}"))
      scans.map(_.selectedPartitions.partitionCount).sum
    }
    val fullParts = fileScans(JoinView.merged(spark, path)).filter(
      _.relation.location.rootPaths.exists(_.toString.endsWith("/view")))
      .map(_.selectedPartitions.partitionCount).sum
    assert(prunedParts < fullParts,
      s"mergedForDays read not pruned: $prunedParts vs full $fullParts partitions")
  }

  test("driver-side day bucket ids equal the pd= expression Spark evaluates") {
    val spark0 = spark
    import spark0.implicits._
    // ~1,000 days from 1960 to 2039 (pre-1970 included) plus leap days
    val start = java.time.LocalDate.of(1960, 1, 1)
    val days = ((0 until 1000).map(i => start.plusDays(i * 29L).toString) ++
      Seq("1960-02-29", "1968-02-29", "2000-02-29", "2024-02-29", "2100-03-01")).distinct
    for (pdb <- Seq(JoinView.PDB, 7, 64)) {
      val bySpark = days.toDF("d")
        .select(JoinView.pdOf(col("d").cast("timestamp"), pdb)).collect().map(_.getInt(0))
      assert(days.map(JoinView.pdOfDay(_, pdb)) == bySpark.toSeq,
        s"driver pd ids diverge from the written expression at pdb = $pdb")
    }
  }

  test("mergedForDays on a view without the day layout fails loudly") {
    val path = Files.createTempDirectory("graft_jvcdc_noday_").toString
    JoinView.build(mkA(A0), mkB(B0), "k", path, cdc = true)
    val e = intercept[IllegalArgumentException] {
      JoinView.mergedForDays(spark, path, Seq("2024-01-01"))
    }
    assert(e.getMessage.contains("dayCol"))
  }

  test("foldCdc and compact preserve the pd= layout; mergedForDays stays exact") {
    val path = Files.createTempDirectory("graft_jvcdc_dayfold_").toString
    val spark0 = spark
    import spark0.implicits._
    JoinView.build(mkAts(A0ts), mkB((1L to 16L).map(k => (k, k * 100))), "k",
      path, cdc = true, dayCol = "ts")
    JoinView.ingestCdc(mkAts(Seq((9L, "a9'", s"${dayOfK(9L)} 10:00:00"))),
      mkB(Seq(3L -> 333L)), "k", path, delA = Seq(2L).toDF("k"))
    val before = dayViewSet(JoinView.mergedForDays(spark, path, Seq(dayOfK(9L))))
    JoinView.foldCdc(spark, path)
    assert(dayViewSet(JoinView.mergedForDays(spark, path, Seq(dayOfK(9L)))) == before,
      "fold changed the per-day resolve")
    JoinView.compact(spark, path)
    assert(dayViewSet(JoinView.mergedForDays(spark, path, Seq(dayOfK(9L)))) == before,
      "compact changed the per-day resolve")
    // post-fold upserts keep landing under the day layout
    JoinView.ingestCdc(mkAts(Seq((9L, "a9''", s"${dayOfK(9L)} 11:00:00"))),
      mkB(Nil), "k", path)
    val after = dayViewSet(JoinView.mergedForDays(spark, path, Seq(dayOfK(9L))))
    assert(after.exists(r => r._1 == 9L && r._2 == "a9''") &&
      !after.exists(r => r._1 == 9L && r._2 != "a9''"))
  }
}
