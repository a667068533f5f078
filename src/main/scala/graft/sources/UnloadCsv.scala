package graft.sources

import java.io.{BufferedReader, InputStreamReader, Reader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{PgBool, UnloadDialect}
import graft.schema.{RedshiftType, TableSchema}

/** Record iterator over the unload dialect's character stream: records are
  * separated by an UNESCAPED newline; a backslash escapes the next character,
  * so backslash-escaped LF/CR (as UNLOAD ESCAPE emits for embedded newlines)
  * stay inside the record — a line-oriented reader would mis-split them,
  * which is why this is not `spark.read.text`. The emitted record string
  * keeps its escapes; UnloadSplit unescapes while splitting fields.
  */
private[sources] final class UnloadRecordIterator(in: Reader) extends Iterator[String] {
  private var nextRecord: String = _
  private var eof = false

  private def advance(): Unit = {
    if (eof) { nextRecord = null; return }
    val sb = new java.lang.StringBuilder(128)
    var c = in.read()
    if (c < 0) { eof = true; in.close(); nextRecord = null; return }
    var done = false
    while (!done && c >= 0) {
      // a lone CR's lookahead re-enters the match below (it may itself open
      // an escape or terminate the record) instead of being appended raw
      var lookahead = Int.MinValue
      c match {
        case '\\' =>
          val n = in.read()
          if (n < 0) {
            eof = true; in.close()
            throw new IllegalArgumentException(
              "unload dialect: dangling escape ('\\') at end of stream — " +
                "input is truncated or not ESCAPE-dialect CSV")
          }
          sb.append('\\').append(n.toChar)
        case '\n' => done = true
        case '\r' => // CRLF also terminates a record (never emitted by the
          // exporter, which escapes CR); a lone CR stays record content
          val n = in.read()
          if (n < 0) { eof = true; in.close(); done = true }
          else if (n == '\n') done = true
          else { sb.append('\r'); lookahead = n }
        case ch => sb.append(ch.toChar)
      }
      if (!done) {
        c = if (lookahead != Int.MinValue) lookahead else in.read()
        if (c < 0) { eof = true; in.close() }
      }
    }
    nextRecord = sb.toString
  }

  advance()
  override def hasNext: Boolean = nextRecord != null
  override def next(): String = { val r = nextRecord; advance(); r }
}

/** Reader for the Redshift-unload CSV dialect (reference operators R2/R3/R4):
  * pipe-delimited, backslash-escaped (delimiter, backslash, LF, CR),
  * unquoted, gzipped, empty-string-as-NULL, 't'/'f' booleans, ISO-8601
  * timestamps — optionally enumerated by a JSON manifest
  * {"entries": [{"url": ...}]} (reference spectrify/convert.py:97-99,
  * utils/s3.py:81-123).
  *
  * Scale notes: gzip members are unsplittable, so the unit of parallelism is
  * the file either way, and each file is one decompression stream (the
  * reference's multiprocessing.Pool becomes task scheduling, R7). It is not
  * one task per file: binaryFiles packs files smaller than
  * `spark.files.openCostInBytes` (4 MB) into one task (measured: 4 parts of
  * ~300 KB gave 1 task), and each task writes one Parquet file. That is
  * kept on purpose: one Parquet file per small part was measured to grow
  * a copy's Parquet output from 774,307 to 878,512 B (+13.5 %); parts of
  * ~4 MB and up get a task each. Decompression streams in 64 KB blocks
  * (O6), never materializing a file;
  * the typed cast layer is a per-column projection fused by codegen.
  * Corrupt values fail the job (ANSI casts + field-count checks), matching
  * the reference's ValueError-on-bad-cell policy (convert.py:55).
  */
object UnloadCsv {

  /** Parse a JSON manifest into its entry URLs, in entry order. The manifest
    * is a file LIST (one short URL per part file — the reference holds the
    * same list in memory, convert.py:221-230), not data, so it is read on
    * the driver through the Hadoop FileSystem (any scheme: file://, s3a://,
    * hdfs://) and parsed with Jackson; no Spark job runs. A manifest that is
    * not JSON, has no `entries` array, or has an entry without a `url`
    * string fails with an error naming its path.
    */
  def manifestEntries(spark: SparkSession, manifestPath: String): Seq[String] = {
    def malformed(why: String, cause: Throwable = null) =
      new IllegalArgumentException(s"malformed manifest $manifestPath: $why", cause)
    val p = new Path(manifestPath)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val root =
      try new ObjectMapper().readTree(in)
      catch { case e: JsonProcessingException => throw malformed(e.getOriginalMessage, e) }
      finally in.close()
    val entries = Option(root).map(_.path("entries")).filter(_.isArray)
      .getOrElse(throw malformed("""no "entries" array"""))
    entries.elements().asScala.map { e =>
      val url = e.path("url")
      if (!url.isTextual) throw malformed(s"""entry without a "url" string: $e""")
      url.asText()
    }.toSeq
  }

  /** Escape-aware record scan: one decompression stream per file. */
  private def readRecords(spark: SparkSession, paths: Seq[String]): DataFrame = {
    // an empty manifest lists no parts, and binaryFiles rejects an empty path
    if (paths.isEmpty) return spark.emptyDataset(Encoders.STRING).toDF("value")
    val rdd = spark.sparkContext
      .binaryFiles(paths.mkString(","), minPartitions = paths.length)
      .flatMap { case (path, pds) =>
        val raw = pds.open()
        val in = if (path.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw
        new UnloadRecordIterator(
          new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8), 1 << 16))
      }
    spark.createDataset(rdd)(Encoders.STRING).toDF("value")
  }

  /** Read unload-dialect CSV files, applying the typed conversion layer.
    * The dialect (unquoted + backslash escapes, including escaped newlines)
    * is parsed by the escape-aware record scan + the UnloadSplit kernel —
    * general CSV parsers only honor escapes inside quotes.
    */
  def read(spark: SparkSession, schema: TableSchema, paths: Seq[String],
           delimiter: Char = '|'): DataFrame = {
    val n = schema.fields.length
    val raw = readRecords(spark, paths)
      .select(UnloadDialect.unloadSplit(col("value"), delimiter, n).as("f"))
    val named = raw.select(schema.names.zipWithIndex.map {
      case (name, i) => col("f").getItem(i).as(name)
    }: _*)
    named.select(schema.fields.map { case (name, t) => typed(col(name), t).as(name) }: _*)
  }

  /** Read via a manifest, like the reference's ConcurrentManifestConverter. */
  def readManifest(spark: SparkSession, schema: TableSchema, manifestPath: String,
                   delimiter: Char = '|'): DataFrame =
    read(spark, schema, manifestEntries(spark, manifestPath), delimiter)

  /** The per-column cast expression table (reference convert.py:65-72,
    * timestamps.py:9-37). ANSI mode makes each cast fail-fast on garbage.
    */
  private[graft] def typed(c: Column, t: RedshiftType): Column = t match {
    case RedshiftType.RsBoolean => PgBool.pgBool(c)
    case other => c.cast(other.spark)
  }

  /** List part files under a CSV directory (non-manifest layout). */
  def listCsvParts(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(_.isFile)
      .map(_.getPath.toString)
      .filter(f => f.endsWith(".gz") || f.endsWith(".csv"))
      .sorted
  }
}
