package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The as-of retention floor — the loud half of the time-travel contract
  * (r11 verdict task 5).
  *
  * [[AggIndex.mergedAsOf]] and [[JoinView.mergedAsOf]] are exact only
  * BETWEEN history rewrites: AggIndex.compact collapses history below
  * max(batch) into one consolidated row (an as-of below that point would
  * silently return an EMPTY prefix), AggIndex.forgetUsers re-homes the
  * affected keys' recomputed partials under a fresh id, and JoinView's
  * forget hides a key from every batch at once — in each case an as-of
  * older than the rewrite would silently return post-rewrite history as
  * if it were the past. This marker makes that contract ENFORCED instead
  * of documented: every rewrite persists the oldest batch id its table
  * can still answer exactly, and stale reads `require`-fail naming the
  * rewrite that retired them. AggIndex's two rewrites write the floor into
  * [[IndexMaintenance.rewrite]]'s tmp dir, so it publishes with their swap
  * — never without its rewrite or vice versa; JoinView's forget and
  * foldCdc raise it at the root BEFORE rewriting, so a crash leaves a
  * floor without its rewrite (loud), never the reverse.
  *
  * The marker only ever advances (writers take max with the existing
  * floor), and absence means "no rewrite yet" — every as-of is exact.
  */
private[operators] object AsofFloor {

  val Marker = "_graft_asof_floor"

  /** Write `floor` + the human-readable rewrite description into `dir` —
    * callers pass the REWRITE'S tmp dir pre-swap (atomic publish) or the
    * live root ahead of the rewrite (tombstone appends, the subtable
    * folds).
    * Monotone: an existing floor at or above `floor` is kept.
    */
  def write(spark: SparkSession, dir: String, floor: Int, rewrite: String): Unit = {
    val keep = read(spark, dir) match {
      case Some((f, r)) if f >= floor => (f, r)
      case _ => (floor, rewrite)
    }
    Ledger.write(spark, new Path(dir, Marker), s"${keep._1}\n${keep._2}")
  }

  /** [[write]] into a REWRITE'S tmp dir pre-swap, carrying any floor the
    * live dir already holds: the tmp dir starts marker-less, so a plain
    * write there would silently LOWER an older, higher floor across the
    * swap. Monotonicity of [[write]] picks the winner (and its rewrite
    * description) between the carried and the new floor.
    */
  def carryInto(spark: SparkSession, liveDir: String, tmpDir: String,
                floor: Int, rewrite: String): Unit = {
    read(spark, liveDir).foreach { case (f, r) => write(spark, tmpDir, f, r) }
    write(spark, tmpDir, floor, rewrite)
  }

  def read(spark: SparkSession, dir: String): Option[(Int, String)] = {
    val file = new Path(dir, Marker)
    Ledger.read(spark, file).map { body =>
      val lines = body.split('\n')
      (Ledger.int(file, body, lines(0)), lines.drop(1).mkString("\n").trim)
    }
  }

  /** Gate an as-of read: `upToBatch` below the floor fails LOUDLY, naming
    * the rewrite that retired that history.
    */
  def check(spark: SparkSession, dir: String, upToBatch: Int): Unit =
    read(spark, dir).foreach { case (floor, rewrite) =>
      require(upToBatch >= floor,
        s"as-of batch $upToBatch is older than this table's retention floor " +
          s"$floor at $dir — that history was rewritten by: $rewrite. " +
          "Reads at or above the floor remain exact.")
    }
}
