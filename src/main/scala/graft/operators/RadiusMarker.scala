package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The persisted `_graft_tau` radius marker shared by the kernel-choice-
  * versioned entity indexes ([[FastSsIndex]], [[PassJoinIndex]]) — the
  * [[KeyBuckets]] versioning discipline applied to the KERNEL: an index
  * built at one radius probed or ingested at another would silently
  * return the wrong edit-distance contract (the two radii's signatures /
  * segment contexts never collide), so the radius persists at build and
  * every kerneling writer validates it. One copy so the marker wire
  * format and the loud-mismatch message cannot drift between the two
  * index families.
  */
private[operators] object RadiusMarker {

  private def markerPath(path: String) = new Path(path, "_graft_tau")

  def write(spark: SparkSession, path: String, tau: Int): Unit =
    Ledger.write(spark, markerPath(path), tau.toString)

  /** The persisted radius; `default` for a marker-less artifact (FastSS:
    * 1, the only radius that existed pre-marker; PassJoin indexes are
    * never marker-less — they postdate the discipline).
    */
  def stored(spark: SparkSession, path: String, default: Int): Int =
    Ledger.readInt(spark, markerPath(path)).getOrElse(default)

  def validate(spark: SparkSession, path: String, tau: Int, default: Int): Unit = {
    val s = stored(spark, path, default)
    require(s == tau,
      s"index at $path was built with deletion/partition radius tau=$s but this " +
        s"writer kernels at tau=$tau — mixed radii would silently break the " +
        "edit-distance contract. Rebuild the index at the desired radius.")
  }

  /** The streamed writers' prologue, run before the stream starts so the
    * radius lands before any data (r14 ADVICE: a marker written after the
    * first trigger's data left a crash window a restart rejected loudly
    * as a tau mismatch; nextBatch reads a data-less marker-only dir as
    * fresh, so the worst crash now leaves a half-built index that is loud
    * on mismatch). Heals a crashed compaction first: the marker write may
    * create the root, and [[IndexMaintenance.recover]] would then take
    * the trashed table for a finished swap's leftovers and delete it. An existing root
    * is validated; a marker-less one (a pre-marker artifact just
    * validated at `default`, or a fresh root) gets the marker.
    */
  def claim(spark: SparkSession, path: String, tau: Int, default: Int): Unit = {
    IndexMaintenance.recover(spark, path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new Path(path))) validate(spark, path, tau, default)
    if (!fs.exists(markerPath(path))) write(spark, path, tau)
  }
}
