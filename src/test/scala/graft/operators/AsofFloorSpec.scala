package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The as-of retention floor, ENFORCED (r11 verdict task 5; wired r13):
  * every history rewrite — AggIndex compact/forgetUsers, JoinView
  * forget/reclaiming-compact — publishes the oldest batch its table can
  * still answer exactly, and a stale as-of read `require`-fails naming
  * the rewrite instead of silently returning post-rewrite history as if
  * it were the past. Reads at or above the floor stay exact.
  */
class AsofFloorSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def events = Tables.load(spark, sfDir, "events")

  test("AggIndex.compact raises the floor; stale as-of fails naming the rewrite") {
    val p = Files.createTempDirectory("graft_floor_agg_").toString
    AggIndex.build(events.filter(col("event_id") % 3 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 1), p, batch = 1)
    AggIndex.ingest(events.filter(col("event_id") % 3 === 2), p, batch = 2)
    // pre-rewrite: every as-of is exact, no floor exists
    AggIndex.mergedAsOf(spark, p, upToBatch = 0).count()
    assert(AsofFloor.read(spark, p).isEmpty)

    AggIndex.compact(spark, p) // history below 2 consolidated under batch 1
    // at/above the consolidated batch: still exact, still readable
    assert(AggIndex.mergedAsOf(spark, p, upToBatch = 1).count() > 0)
    AggIndex.merged(spark, p).count()
    // below it: the history no longer exists — loud, named failure
    val stale = intercept[IllegalArgumentException] {
      AggIndex.mergedAsOf(spark, p, upToBatch = 0)
    }
    assert(stale.getMessage.contains("retention floor") &&
      stale.getMessage.contains("compact"))
  }

  test("AggIndex.forgetUsers raises the floor past every pre-forget batch") {
    val p = Files.createTempDirectory("graft_floor_fgt_").toString
    AggIndex.build(events.filter(col("event_id") % 2 === 0), p)
    AggIndex.ingest(events.filter(col("event_id") % 2 === 1), p, batch = 1)
    AggIndex.forgetUsers(spark, p, events,
      events.select(col("user_id")).distinct().limit(3))
    // affected keys were recomputed under batch 2 — any earlier as-of
    // would show history missing those keys entirely
    val stale = intercept[IllegalArgumentException] {
      AggIndex.mergedAsOf(spark, p, upToBatch = 1)
    }
    assert(stale.getMessage.contains("forgetUsers"))
    assert(AggIndex.mergedAsOf(spark, p, upToBatch = 2).count() > 0)
    // a later compact must not LOWER the forget's floor (monotone carry)
    AggIndex.ingest(events.filter(col("event_id") % 2 === 1), p,
      batch = IndexStream.nextBatch(spark, p))
    AggIndex.compact(spark, p)
    intercept[IllegalArgumentException] {
      AggIndex.mergedAsOf(spark, p, upToBatch = 1)
    }
  }

  test("JoinView.forget raises the floor; merged() and post-floor as-of stay exact") {
    val p = Files.createTempDirectory("graft_floor_jv_").toString
    val ev = events.select(col("user_id"), col("event_id"), col("value"))
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    JoinView.build(ev.filter(col("event_id") % 2 === 0), cust, "user_id", p)
    JoinView.ingest(ev.filter(col("event_id") % 2 === 1), cust.limit(0), "user_id", p)
    JoinView.mergedAsOf(spark, p, upToBatch = 0).count() // exact pre-forget

    JoinView.forget(spark, p, ev.select("user_id").distinct().limit(2))
    // the tombstones hide the keys from EVERY batch — batch-0 history is
    // no longer answerable as it was
    val stale = intercept[IllegalArgumentException] {
      JoinView.mergedAsOf(spark, p, upToBatch = 0)
    }
    assert(stale.getMessage.contains("forget"))
    assert(JoinView.merged(spark, p).count() > 0)
    assert(JoinView.mergedAsOf(spark, p, upToBatch = 1).count() > 0)

    // reclamation keeps the floor (root marker survives subtable swaps)
    JoinView.compact(spark, p)
    intercept[IllegalArgumentException] {
      JoinView.mergedAsOf(spark, p, upToBatch = 0)
    }
    assert(JoinView.merged(spark, p).count() > 0)
  }

  test("a tombstone-free JoinView.compact does not raise a floor") {
    val p = Files.createTempDirectory("graft_floor_jvc_").toString
    val ev = events.select(col("user_id"), col("event_id"), col("value"))
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    JoinView.build(ev.filter(col("event_id") % 2 === 0), cust, "user_id", p)
    JoinView.ingest(ev.filter(col("event_id") % 2 === 1), cust.limit(0), "user_id", p)
    JoinView.compact(spark, p)
    // file merging preserves every batch's visible rows — as-of stays exact
    assert(AsofFloor.read(spark, p).isEmpty)
    assert(JoinView.mergedAsOf(spark, p, upToBatch = 0).count() > 0)
  }

  test("the floor is monotone and publishes its rewrite description") {
    val dir = Files.createTempDirectory("graft_floor_unit_").toString
    AsofFloor.write(spark, dir, 3, "first rewrite")
    AsofFloor.write(spark, dir, 1, "older rewrite must not lower it")
    assert(AsofFloor.read(spark, dir).contains((3, "first rewrite")))
    AsofFloor.write(spark, dir, 5, "second rewrite")
    assert(AsofFloor.read(spark, dir).contains((5, "second rewrite")))
    // carryInto a fresh tmp dir keeps the higher of (carried, new)
    val tmp = Files.createTempDirectory("graft_floor_tmp_").toString
    AsofFloor.carryInto(spark, dir, tmp, floor = 4, rewrite = "lower new floor")
    assert(AsofFloor.read(spark, tmp).contains((5, "second rewrite")))
    AsofFloor.check(spark, dir, upToBatch = 5)
    intercept[IllegalArgumentException] { AsofFloor.check(spark, dir, 4) }
  }
}
