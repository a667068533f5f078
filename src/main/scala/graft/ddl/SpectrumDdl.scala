package graft.ddl

import graft.schema.TableSchema

/** External-table DDL renderers (reference operators R9/R10 — create.py:76-96
  * and :99-154). The Redshift-dialect renderers are pure string rendering and
  * match the reference's templates byte-for-byte (golden-tested against the
  * port of tests/test_open_csv_serde_table_creator.py:12-45): first column on
  * the template's 8-space line, continuation columns joined with ',\n    '
  * (4 spaces — create.py:53).
  *
  * [[sparkParquetTable]] is the executable twin: the same external-table
  * semantics in Spark SQL, actually runnable via spark.sql (the reference
  * *executes* its DDL against Redshift after log+confirm, create.py:59-73 —
  * rendering alone would drop that half of the operator).
  */
object SpectrumDdl {

  /** Dots in the table name become underscores (create.py:91). */
  private def qualifiedName(schemaName: String, tableName: String): String =
    s"$schemaName.${tableName.replace('.', '_')}"

  /** Single-quoted SQL literal with quote doubling — the reference
    * interpolates raw (same template, no escaping), which breaks on values
    * containing quotes; hardened here since the rendering is otherwise
    * byte-identical for quote-free values.
    */
  private def sq(value: String): String = s"'${value.replace("'", "''")}'"

  /** Column list: `name TYPE`, first column inline (the template indents it
    * 8 spaces), the rest joined with ',\n    ' exactly like the reference
    * (create.py:53). DOUBLE PRECISION is already rewritten to FLOAT by the
    * type ADT (create.py:11-13).
    */
  private def columnList(schema: TableSchema): String =
    schema.fields.map { case (n, t) => s"$n ${t.ddl}" }.mkString(",\n    ")

  /** `CREATE EXTERNAL TABLE ... STORED AS PARQUET` (create.py:77-83). */
  def parquetTable(schemaName: String, tableName: String, schema: TableSchema,
                   location: String): String =
    s"""
    create external table ${qualifiedName(schemaName, tableName)} (
        ${columnList(schema)}
    )
    stored as parquet
    location ${sq(location)}
    """

  /** `ROW FORMAT SERDE OpenCSVSerde` variant (create.py:99-154). With
    * `useManifest` (the reference's default) the location is the manifest
    * file; otherwise the CSV directory (create.py:145-150).
    */
  def openCsvSerdeTable(schemaName: String, tableName: String, schema: TableSchema,
                        csvDir: String, manifestPath: String,
                        delimiter: String = "|", gzipped: Boolean = true,
                        useManifest: Boolean = true): String = {
    val compression = if (gzipped) "gzip" else "none"
    val location = if (useManifest) manifestPath else csvDir
    s"""
    create external table ${qualifiedName(schemaName, tableName)} (
        ${columnList(schema)}
    )
    ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.OpenCSVSerde' WITH SERDEPROPERTIES (
        'separatorChar' = ${sq(delimiter)},
        'quoteChar' = '\\"',
        'escapeChar' = '\\\\'
    )
    stored as textfile
    location ${sq(location)}
    table properties (
        'compression_type'=${sq(compression)}
    );
    """
  }

  /** `ALTER TABLE ... ADD PARTITION` (reference R14,
    * examples/weekly_partitions.py:107-129).
    */
  def addPartition(schemaName: String, tableName: String, partitionKey: String,
                   partitionValue: String, location: String): String =
    s"""
    alter table ${qualifiedName(schemaName, tableName)}
    add partition ($partitionKey=${sq(partitionValue)})
    location ${sq(location)}
    """

  /** Spark-SQL executable equivalent of [[parquetTable]]: an external table
    * over the converted parquet directory, queryable by name in the session
    * catalog. The column list is the reflected schema in Spark types (what
    * the converted files hold), so registering reads no parquet footer.
    */
  def sparkParquetTable(schemaName: String, tableName: String, schema: TableSchema,
                        location: String): String = {
    val columns = schema.fields.map { case (n, t) =>
      s"`${n.replace("`", "``")}` ${t.spark.sql}"
    }.mkString(", ")
    s"CREATE TABLE IF NOT EXISTS ${qualifiedName(schemaName, tableName)} ($columns) " +
      s"USING PARQUET LOCATION ${sq(location)}"
  }
}
