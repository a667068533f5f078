package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileStatus, Path}
import org.apache.hadoop.fs.Options.Rename
import org.apache.spark.sql.SparkSession

/** The one protocol every persisted operator uses for its small sidecar
  * files: layout and key markers, the `_graft_committed_batch` commit
  * ledger, streaming applied-batch markers and reader pins. A marker is a
  * few UTF-8 lines beside the data (underscore-prefixed, so Parquet
  * readers ignore it); file names and bodies are each caller's format,
  * this object owns only how they are published and read back.
  */
private[operators] object Ledger {

  /** The trimmed body of `file`, or None when the file is absent (also
    * when it vanishes between the caller's listing and this open). On a
    * checksummed filesystem every published marker carries a `.crc`, so a
    * body edited outside this object fails its checksum; that fails
    * naming the file, not with Hadoop's bare `ChecksumException`.
    */
  def read(spark: SparkSession, file: Path): Option[String] = {
    val fs = file.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val in = fs.open(file)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
      case e: org.apache.hadoop.fs.ChecksumException =>
        throw new IllegalStateException(
          s"marker at $file does not match its checksum: it was edited outside the " +
            "operator that published it. Rebuild the artifact, or republish the " +
            "marker through its operator, before writing again.", e)
    }
  }

  /** Publish `body` at `file` via a `<name>.tmp` sibling and an
    * OVERWRITE rename. An in-place truncating create could crash
    * half-written (an empty marker parses as garbage), and a
    * delete-then-rename could crash with the marker ABSENT — for the
    * commit ledger the unsafe direction, since a missing ledger silently
    * disables AggIndex's orphan guard. `FileContext.rename(OVERWRITE)`
    * replaces atomically: a reader sees the old body or the new one,
    * never a partial one, and never no file once the first write landed.
    */
  def write(spark: SparkSession, file: Path, body: String): Unit =
    publish(spark, new Path(file.getParent, file.getName + ".tmp"), file, body, Rename.OVERWRITE)

  /** Publish `body` at `file` only if no writer has published there yet:
    * the first writer wins, a later one throws
    * (`FileAlreadyExistsException`) and leaves the first body intact. The
    * body lands completely in a uniquely named tmp that a rename WITHOUT
    * OVERWRITE then publishes, so a racing reader sees no file or the
    * whole body, never an empty one; a tmp stranded by a dead writer
    * carries another name and blocks nobody. Once `file` exists no
    * `.<name>-*.tmp` beside it can ever publish, so every writer, winner
    * or loser, reaps them all after its attempt (a racing loser whose tmp
    * goes fails its rename all the same); before that it deletes only its
    * own.
    */
  def writeOnce(spark: SparkSession, file: Path, body: String): Unit = {
    val prefix = s".${file.getName}-"
    val tmp = new Path(file.getParent, s"$prefix${java.util.UUID.randomUUID()}.tmp")
    try publish(spark, tmp, file, body, Rename.NONE)
    finally {
      val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(file)) fs.delete(tmp, false)
      else fs.listStatus(file.getParent, (p: Path) =>
          p.getName.startsWith(prefix) && p.getName.endsWith(".tmp"))
        .foreach(st => fs.delete(st.getPath, false))
    }
  }

  private def publish(spark: SparkSession, tmp: Path, file: Path, body: String,
                      mode: Rename): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = file.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(fs.getUri, conf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(file), mode)
  }

  /** `field` of the marker `file`, whose whole body is `body`, as an Int:
    * every integer a marker holds is parsed here, so a torn or corrupt
    * marker fails naming its file and contents, never with a bare
    * `NumberFormatException`.
    */
  def int(file: Path, body: String, field: String): Int =
    field.trim.toIntOption.getOrElse(throw new IllegalStateException(
      s"corrupt marker at $file (contents: '$body'): '$field' is not an integer — " +
        "rebuild the artifact, or republish the marker through its operator, " +
        "before writing again"))

  /** A one-integer marker; None when absent. */
  def readInt(spark: SparkSession, file: Path): Option[Int] =
    read(spark, file).map(body => int(file, body, body))

  private val CommitLedger = "_graft_committed_batch"

  /** Advance the commit ledger under `root` to `batch`: the highest batch
    * whose writes completed; anything stored above it is an orphan of a
    * writer that died mid-batch. Body "<batch>" or "<batch>\n<writer>" —
    * the writer line lets a resumed stream tell its own crash window from
    * a foreign writer having taken its id space.
    */
  def commit(spark: SparkSession, root: String, batch: Int, writer: Option[String]): Unit =
    write(spark, new Path(root, CommitLedger), (batch.toString +: writer.toSeq).mkString("\n"))

  /** (batch, writer) from the commit ledger under `root`; None when there
    * is no ledger (each caller names what that means for its artifact).
    */
  def committed(spark: SparkSession, root: String): Option[(Int, Option[String])] = {
    val file = new Path(root, CommitLedger)
    read(spark, file).map { body =>
      val lines = body.split('\n').map(_.trim)
      (int(file, body, lines(0)), lines.lift(1))
    }
  }

  private val PinsDir = "_reader_pins"

  /** Run `f` on the value `resolve` returns while a reader pin holding it
    * sits in `root/_reader_pins`, so a concurrent writer's GC
    * ([[livePins]]) keeps what that value resolves to for the bracket's
    * lifetime. The read->pin window is closed by construction: the pin
    * lands by temp + rename (a GC never opens a half-written pin), and
    * `resolve` runs AGAIN after it lands. A writer that advanced inside
    * the window must have done so before its GC listed pins — i.e.
    * before our rename, hence before the re-read — so a re-read
    * returning the pinned value proves every later GC sees the pin; a
    * changed value re-pins and re-checks.
    */
  def withPin[T](spark: SparkSession, root: String)(resolve: () => Int)(f: Int => T): T = {
    val dir = new Path(root, PinsDir)
    val id = java.util.UUID.randomUUID()
    val pin = new Path(dir, s"pin-$id")
    def pinAt(v: Int): Unit =
      publish(spark, new Path(dir, s".pin-$id.tmp"), pin, v.toString, Rename.OVERWRITE)
    try {
      var v = resolve()
      pinAt(v)
      var again = resolve()
      while (again != v) { v = again; pinAt(v); again = resolve() }
      f(v)
    } finally pin.getFileSystem(spark.sessionState.newHadoopConf()).delete(pin, false)
  }

  /** The values every live reader pin under `root` holds. A pin whose
    * modification time is older than `ttlMs` is presumed to belong to a
    * crashed reader (a kill -9'd bracket must not block reclamation
    * forever) and is deleted, as is an expired `.pin-*.tmp` stranded by
    * a reader that died before its rename — so the directory stays
    * bounded by the live-reader count. A pin released between the
    * listing and the open, or one with no parseable value, protects
    * nothing and is skipped.
    */
  def livePins(spark: SparkSession, root: String, ttlMs: Long): Seq[Int] = {
    val dir = new Path(root, PinsDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val listed = try fs.listStatus(dir)
                 catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    val now = System.currentTimeMillis()
    listed.toSeq.filter(_.isFile).flatMap { st =>
      val n = st.getPath.getName
      val isPin = n.startsWith("pin-")
      if ((isPin || (n.startsWith(".pin-") && n.endsWith(".tmp"))) &&
          now - st.getModificationTime > ttlMs) {
        fs.delete(st.getPath, false)
        None
      } else if (isPin) read(spark, st.getPath).flatMap(_.toIntOption)
      else None
    }
  }
}
