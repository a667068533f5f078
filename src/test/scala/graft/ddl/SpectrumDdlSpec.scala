package graft.ddl

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.{RedshiftType, TableSchema}

/** Golden-string DDL tests — port of the reference's
  * tests/test_open_csv_serde_table_creator.py:12-45 plus the parquet variant.
  */
class SpectrumDdlSpec extends AnyFunSuite {
  import RedshiftType._

  test("OpenCSVSerde DDL matches the reference golden string") {
    val expected = """
    create external table schema.table (
        int_col_1 INTEGER
    )
    ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.OpenCSVSerde' WITH SERDEPROPERTIES (
        'separatorChar' = '|',
        'quoteChar' = '\"',
        'escapeChar' = '\\'
    )
    stored as textfile
    location 's3://some_bucket/prefix/csv/manifest'
    table properties (
        'compression_type'='gzip'
    );
    """
    val got = SpectrumDdl.openCsvSerdeTable(
      "schema", "table",
      TableSchema(Seq("int_col_1" -> RsInteger)),
      csvDir = "s3://some_bucket/prefix/csv",
      manifestPath = "s3://some_bucket/prefix/csv/manifest")
    assert(got == expected)
  }

  test("parquet DDL renders the reference template (create.py:77-83)") {
    val got = SpectrumDdl.parquetTable(
      "spectrum", "events",
      TableSchema(Seq("id" -> RsBigInt, "price" -> RsDoublePrecision)),
      "s3://bucket/base/spectrum/")
    assert(got.contains("create external table spectrum.events ("))
    assert(got.contains("id BIGINT,\n    price FLOAT"))
    assert(got.contains("stored as parquet"))
    assert(got.contains("location 's3://bucket/base/spectrum/'"))
  }

  test("dots in table name become underscores (create.py:91)") {
    val got = SpectrumDdl.parquetTable("spectrum", "public.my_table",
      TableSchema(Seq("id" -> RsInteger)), "s3://x/")
    assert(got.contains("create external table spectrum.public_my_table ("))
  }

  test("add-partition DDL (R14, weekly_partitions.py:111-129)") {
    val got = SpectrumDdl.addPartition("spectrum", "events", "partition_key",
      "2020-01-01", "s3://x/spectrum/partition_key=2020-01-01/")
    assert(got.contains("alter table spectrum.events"))
    assert(got.contains("add partition (partition_key='2020-01-01')"))
  }

  test("non-gzip compression renders 'none'") {
    val got = SpectrumDdl.openCsvSerdeTable("s", "t",
      TableSchema(Seq("a" -> RsInteger)), "s3://x/csv", "s3://x/csv/manifest",
      gzipped = false)
    assert(got.contains("'compression_type'='none'"))
  }

  test("use_manifest switches the location (create.py:125,145-150)") {
    val schema = TableSchema(Seq("a" -> RsInteger))
    val withManifest = SpectrumDdl.openCsvSerdeTable("s", "t", schema,
      "s3://x/csv", "s3://x/csv/manifest")
    assert(withManifest.contains("location 's3://x/csv/manifest'"))
    val withoutManifest = SpectrumDdl.openCsvSerdeTable("s", "t", schema,
      "s3://x/csv", "s3://x/csv/manifest", useManifest = false)
    assert(withoutManifest.contains("location 's3://x/csv'"))
  }

  test("multi-column continuation joins with 4 spaces (create.py:53)") {
    val got = SpectrumDdl.parquetTable("s", "t",
      TableSchema(Seq("a" -> RsInteger, "b" -> RsBigInt, "c" -> RsText)), "s3://x/")
    assert(got.contains("        a INTEGER,\n    b BIGINT,\n    c TEXT\n"))
  }

  test("single quotes in interpolated values are doubled") {
    val got = SpectrumDdl.addPartition("s", "t", "k", "o'brien", "s3://x/k=o'brien/")
    assert(got.contains("add partition (k='o''brien')"))
    assert(got.contains("location 's3://x/k=o''brien/'"))
  }

  test("the executable Spark DDL carries the column list in Spark types") {
    val got = SpectrumDdl.sparkParquetTable("s", "a.t",
      TableSchema(Seq("id" -> RsBigInt, "odd`name" -> RsVarchar(Some(8)),
        "n" -> RsDecimal(12, 2), "ts" -> RsTimestamp, "x" -> RsDoublePrecision)),
      "file:/w/it's")
    assert(got == "CREATE TABLE IF NOT EXISTS s.a_t (`id` BIGINT, `odd``name` STRING, " +
      "`n` DECIMAL(12,2), `ts` TIMESTAMP, `x` DOUBLE) USING PARQUET LOCATION 'file:/w/it''s'")
  }
}
