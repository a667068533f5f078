package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** THE key-bucket partition addressing shared by every operator that
  * persists a `kb=` layout ([[Scd2Dim]], [[JoinView]]): one hash, one
  * canonicalization, one bucket count — two copies of a function that
  * addresses on-disk directories is a drift surface, not a style choice.
  *
  * BOTH halves of the addressing are PERSISTED with each table in the
  * `_graft_buckets` marker and validated at every writer entry:
  *
  *  - the bucket count NB: a key's stored rows live under
  *    `kb = hash % NB`, so a writer built with a different NB would prune
  *    to the WRONG bucket, miss the key's history, and silently fork its
  *    timeline / drop its join matches;
  *  - the hash-scheme version [[HashVersion]]: r12 changed the hash INPUT
  *    (string canonicalization) without versioning the layout, so a table
  *    persisted under the old scheme passed the count-only validation and
  *    was then silently mis-addressed — the exact failure class the
  *    marker was built to catch, reintroduced on the upgrade axis
  *    (ADVICE r12). Now any scheme change bumps [[HashVersion]] and an
  *    old-scheme (or pre-versioning, count-only) marker fails LOUDLY
  *    with a rebuild instruction instead of silently adopting the new
  *    hash.
  */
private[operators] object KeyBuckets {

  /** Fixture-sized default — a production table picks thousands (and the
    * marker makes that a per-table property, not a recompile).
    */
  val NB = 8

  /** Version token of the canonicalization + hash scheme below. Bump on
    * ANY change to what bytes reach xxhash64 for a given key value.
    */
  val HashVersion = "v3-bigint"

  /** Canonicalize the key before hashing — rendering- and
    * width-independent (ADVICE r12; supersedes r12's string
    * canonicalization, which was width-invariant only where the string
    * RENDERING was stable):
    *
    *  - integral types → one bigint cast: xxhash64 hashes INT and BIGINT
    *    of the same value differently, so a delta presenting the key at a
    *    different width than the stored table (INT events vs BIGINT
    *    history) would otherwise address the wrong `kb=` directories and
    *    silently drop matches;
    *  - timestamps → epoch micros: the string rendering depends on
    *    spark.sql.session.timeZone, so the same instant would address
    *    different buckets across sessions;
    *  - dates → epoch days (tz-free either way; kept in the numeric
    *    family so DATE and a date-valued key never depend on rendering);
    *  - everything else → string rendering. Residual caveat, documented
    *    as the contract: DECIMAL "5.00" hashes apart from BIGINT 5 — a
    *    key whose presented type may drift across the numeric/decimal
    *    boundary must be cast to bigint by the caller on every path.
    */
  private def canonical(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast("bigint")
    case TimestampType => unix_micros(c)
    case DateType => unix_date(c).cast("bigint")
    case _ => c.cast("string")
  }

  // int, matching what partition-column inference reads back from `kb=N`
  // directory names — keeps pass-through and rebuilt sides' types
  // identical with no set-operation widening.
  def kb(c: Column, dt: DataType, nb: Int = NB): Column =
    pmod(xxhash64(canonical(c, dt)), lit(nb)).cast("int")

  /** [[kb]] with the key's type resolved from the frame — the form every
    * writer should use (passing the wrong DataType IS the drift the
    * marker cannot see).
    */
  def kbFor(df: DataFrame, key: String, nb: Int = NB): Column =
    kb(df(key), df.schema(key).dataType, nb)

  private def markerPath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_buckets")

  def publish(spark: SparkSession, root: String, nb: Int = NB): Unit =
    Ledger.write(spark, markerPath(root), s"$nb\nhash=$HashVersion")

  /** Writer-entry guard: the stored bucket count AND hash-scheme version
    * must equal the ones this writer will address with. A marker-less
    * root adopts the current values (first write); a count-only marker
    * (pre-versioning layout) or a different scheme token fails loudly —
    * the stored `kb=` directories were addressed under a hash this
    * writer does not compute, and every prune against them would be
    * silently wrong.
    */
  def validate(spark: SparkSession, root: String, nb: Int = NB): Unit = {
    val (body, lines) = Ledger.read(spark, markerPath(root)) match {
      case None => publish(spark, root, nb); return
      case Some(body) => (body, body.split('\n').map(_.trim).filter(_.nonEmpty))
    }
    val storedNb = Ledger.int(markerPath(root), body, lines(0))
    require(storedNb == nb,
      s"bucket count $nb does not match the table's persisted _graft_buckets " +
        s"$storedNb at $root — the kb= layout would be addressed wrongly; " +
        "rebuild the table to change its bucket count")
    val storedHash = lines.drop(1).find(_.startsWith("hash="))
      .map(_.stripPrefix("hash="))
    require(storedHash.contains(HashVersion),
      s"kb= hash scheme mismatch at $root: this writer computes " +
        s"'$HashVersion' but the table's marker records " +
        s"'${storedHash.getOrElse("<count-only pre-versioning marker>")}' — " +
        "the stored directories were bucketed under a different key hash, " +
        "and every pruned read/merge against them would silently miss " +
        "rows. Rebuild the table under the current scheme.")
  }
}
