package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DateType, TimestampType}

import graft.ddl.SpectrumDdl
import graft.functions.UnloadDialect
import graft.operators.Par
import graft.schema.TableSchema
import graft.sinks.ParquetSink
import graft.sources.{JdbcSource, UnloadCsv}

/** Output-path layout mirroring the reference's SimpleS3Config
  * (utils/s3.py:51-78): `{base}/csv/` (+ `manifest`), `{base}/spectrum/`.
  * Plain paths — any Hadoop-FS scheme works (file://, s3a://, hdfs://).
  */
final case class PathConfig(basePath: String) {
  val csvDir: String = s"$basePath/csv"
  val manifestPath: String = s"$csvDir/manifest"
  val spectrumDir: String = s"$basePath/spectrum"
}

/** Unload-style CSV export (reference operator R1 re-expressed): instead of a
  * remote `UNLOAD` statement, any DataFrame is written in the exact unload
  * dialect (pipe-delimited, backslash-escaped delimiter/backslash/LF/CR,
  * unquoted, gzip, 't'/'f' booleans, empty-as-null) plus the JSON manifest
  * enumerating part files (export.py:10-17's output contract, manifest shape
  * convert.py:97-99).
  */
object CsvExporter {

  /** UNLOAD's MAXFILESIZE default (export.py:16, HISTORY.rst v2.0.0). */
  val DefaultMaxFileBytes: Long = 256L * 1024 * 1024

  /** Export to unload-dialect gzip CSV + manifest. Output files are bounded
    * at ~`maxFileBytes` of record data: average line width is measured on
    * the first 4096 lines (one `take` job) and converted to a
    * `maxRecordsPerFile` cap (an estimate —
    * UNLOAD bounds the stored bytes exactly because it writes serially; a
    * parallel writer bounds per-task, and gzip makes the stored files
    * smaller than the bound, never larger). Pass 0 to disable.
    */
  def export(df: DataFrame, paths: PathConfig,
             maxFileBytes: Long = DefaultMaxFileBytes): Seq[String] = {
    val spark = df.sparkSession
    val stringified = df.select(df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      (f.dataType match {
        case BooleanType => when(c, "t").when(!c, "f") // null stays null -> ''
        case TimestampType => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        case DateType => date_format(c, "yyyy-MM-dd")
        case _ => c.cast("string")
      }).as(f.name)
    }: _*)
    // UNLOAD ESCAPE semantics, one codegen scan per field: backslash-escape
    // backslash, delimiter, LF and CR in unquoted fields; NULL -> ''.
    val escaped = stringified.schema.fieldNames.toSeq.map { n =>
      coalesce(UnloadDialect.unloadEscape(col(n), '|'), lit(""))
    }
    val lines = stringified.select(concat_ws("|", escaped: _*).as("value"))
    var w = lines.write.mode("overwrite").option("compression", "gzip")
    if (maxFileBytes > 0) {
      // octet_length, not length: the bound is on stored BYTES, and
      // character count under-estimates multibyte-heavy rows
      val avgBytes = ParquetSink.sampledWidth(lines.select(octet_length(col("value"))), 4096) + 1.0
      w = w.option("maxRecordsPerFile", math.max(1L, (maxFileBytes / avgBytes).toLong))
    }
    w.text(paths.csvDir)
    writeManifest(spark, paths)
  }

  /** Enumerate written part files and emit the JSON manifest. */
  private def writeManifest(spark: SparkSession, paths: PathConfig): Seq[String] = {
    val parts = UnloadCsv.listCsvParts(spark, paths.csvDir)
    val entries = parts.map(p => s"""{"url": "$p"}""").mkString(", ")
    val json = s"""{"entries": [$entries]}"""
    val mp = new Path(paths.manifestPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    parts
  }
}

/** The flagship three-stage pipeline (reference operator R11, transform.py:
  * 9-41): export -> convert -> create, sharing one reflected schema.
  *
  * The source is any DataFrame producer — a parquet path (the testdata
  * layout) or a live JDBC table (the reference's actual stage-1 input,
  * export.py:28-34), via the companion constructors. Stage boundaries in
  * Spark terms: each stage is a distributed job; the reference's per-file
  * multiprocessing Pool (R7) becomes task scheduling.
  *
  * A copy of a single-file table runs 7 Spark jobs: export 3 (the
  * source's schema, the line-width sample, the CSV write), convert 4 (the
  * row-width sample, the Parquet write, and the two-stage column
  * statistics aggregate beside it), create none.
  */
final class TableTransformer(spark: SparkSession, source: () => DataFrame,
                             paths: PathConfig, schemaName: String, tableName: String,
                             maxFileBytes: Long = CsvExporter.DefaultMaxFileBytes) {

  /** Parquet-path source (the driver-testdata layout). */
  def this(spark: SparkSession, sourceParquet: String, paths: PathConfig,
           schemaName: String, tableName: String) =
    this(spark, () => spark.read.parquet(sourceParquet), paths, schemaName, tableName)

  /** The source, evaluated once: schema reflection and the export share one
    * DataFrame, so a parquet source's footers are read (one job) once.
    */
  private lazy val sourceDf: DataFrame = source()

  /** Schema reflected once from the source, shared by all stages
    * (transform.py:16) — validated against the supported-type whitelist.
    */
  lazy val schema: TableSchema = TableSchema.fromStructType(sourceDf.schema)

  /** Row count and column statistics of this transformer's last
    * conversion, for [[createTable]]; None until a conversion succeeds.
    */
  @volatile private var converted: Option[(Long, Map[String, CatalogColumnStat])] = None

  /** Stage 1: source table -> unload-dialect CSV + manifest. */
  def exportToCsv(): Seq[String] = {
    schema // force fail-fast validation before any work (schema.py:38-44)
    CsvExporter.export(sourceDf, paths, maxFileBytes)
  }

  /** Stage 2: manifest-driven CSV -> typed, gzip, INT96 Parquet. The column
    * statistics of the typed frame are computed at the same time, in a
    * sibling job ([[Par]]): the Parquet write of a single CSV part is one
    * task, so the statistics aggregate runs on otherwise idle cores, and
    * it reads the CSV, not the Parquet file, so it needs no write to
    * finish first.
    */
  def convertToParquet(): Unit = {
    converted = None
    val typed = UnloadCsv.readManifest(spark, schema, paths.manifestPath)
    var stats: (Long, Map[String, CatalogColumnStat]) = null
    Par.run(() => ParquetSink.write(typed, paths.spectrumDir),
      () => stats = Bridge.columnStats(typed))
    converted = Some(stats)
  }

  /** Stage 3a: the Redshift-dialect external-table DDL (rendered text, as
    * the reference's golden tests pin it).
    */
  def createTableDdl(): String =
    SpectrumDdl.parquetTable(schemaName, tableName, schema, paths.spectrumDir)

  /** Stage 3b: EXECUTE the equivalent Spark DDL — the reference renders and
    * then runs its CREATE against the warehouse (create.py:59-73); here the
    * converted output is registered as an external parquet table in the
    * session catalog, queryable by name. Returns the qualified name.
    *
    * The table is registered with the reflected column list, so no
    * parquet footer is read to infer it.
    *
    * STATS MAINTENANCE IS PART OF INGEST (SURVEY §4, VERDICT r10 missing
    * #3): the registered table carries what `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR ALL COLUMNS` would store — rowCount, sizeInBytes and
    * per-column NDV/min/max/nulls/lengths — so the cost-based optimizer
    * can price joins over engine-produced tables with no hand-run ANALYZE
    * step (CboJoinSpec pins reorder over a transformer-produced db). The
    * reference's warehouse does the same implicitly (Redshift maintains
    * table stats on COPY/CREATE). When this transformer converted the
    * files, the row count and column statistics come from
    * [[convertToParquet]], computed by ANALYZE's own aggregate over the
    * frame it wrote, and only the size is read here (a file listing), so
    * this stage runs no job. Otherwise (a standalone create, as the CLI's
    * `create_table` runs it) one ANALYZE scans the table. The index
    * artifacts ([[graft.operators.SignatureIndex]] etc.) are path-based
    * parquet, not catalog tables — their scan sizing comes from parquet
    * footers, and ANALYZE has no catalog entry to attach to there.
    */
  def createTable(): String = {
    val qualified = s"$schemaName.${tableName.replace('.', '_')}"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $schemaName")
    spark.sql(s"DROP TABLE IF EXISTS $qualified")
    spark.sql(SpectrumDdl.sparkParquetTable(schemaName, tableName, schema, paths.spectrumDir))
    converted match {
      case Some((rows, colStats)) => Bridge.storeStats(spark, qualified, rows, colStats)
      case None => spark.sql(s"ANALYZE TABLE $qualified COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    qualified
  }

  /** Run all three stages (export, convert, create+register); returns the
    * rendered Redshift-dialect DDL (the executed Spark DDL's twin).
    */
  def transform(): String = {
    exportToCsv()
    convertToParquet()
    createTable()
    createTableDdl()
  }
}

object TableTransformer {

  def fromParquet(spark: SparkSession, sourceParquet: String, paths: PathConfig,
                  schemaName: String, tableName: String): TableTransformer =
    new TableTransformer(spark, sourceParquet, paths, schemaName, tableName)

  /** Live-DB source (reference export.py:28-34): reads `table` over JDBC with
    * Catalyst filter/column pushdown; `options` may carry
    * [[JdbcSource.partitionOptions]] for parallel extraction.
    */
  def fromJdbc(spark: SparkSession, url: String, sourceTable: String,
               options: Map[String, String], paths: PathConfig,
               schemaName: String, tableName: String): TableTransformer =
    new TableTransformer(spark, () => JdbcSource.read(spark, url, sourceTable, options),
      paths, schemaName, tableName)

  def ofDataFrame(spark: SparkSession, df: => DataFrame, paths: PathConfig,
                  schemaName: String, tableName: String): TableTransformer =
    new TableTransformer(spark, () => df, paths, schemaName, tableName)
}
