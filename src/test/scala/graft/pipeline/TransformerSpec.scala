package graft.pipeline

import java.nio.file.Files

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end pipeline test (R11): parquet source -> unload CSV + manifest ->
  * typed conversion -> spectrum parquet -> DDL, equality against the source.
  */
class TransformerSpec extends SparkSpec {

  test("transform() runs all three stages and round-trips the data") {
    val base = Files.createTempDirectory("transformer_").toString
    val src = "/root/testdata/sf0.001/nation.parquet"
    val t = new TableTransformer(spark, src, PathConfig(base), "spectrum", "nation")

    val ddl = t.transform()
    assert(ddl.contains("create external table spectrum.nation ("))
    assert(ddl.contains("stored as parquet"))

    // manifest exists and enumerates the gzip parts
    assert(new java.io.File(s"$base/csv/manifest").exists())
    val manifest = Files.readString(java.nio.file.Paths.get(s"$base/csv/manifest"))
    assert(manifest.contains("\"entries\""))
    assert(manifest.contains(".gz"))

    val source = spark.read.parquet(src).orderBy("n_nationkey").collect()
    val result = spark.read.parquet(s"$base/spectrum").orderBy("n_nationkey").collect()
    assert(source.length == result.length)
    source.zip(result).foreach { case (a, b) => assert(a == b) }
  }

  test("schema validation fails fast before any work (schema.py:38-44)") {
    val base = Files.createTempDirectory("transformer_").toString
    val src = "/root/testdata/sf0.001/embeddings.parquet" // has array<float>
    val t = new TableTransformer(spark, src, PathConfig(base), "s", "t")
    intercept[IllegalArgumentException](t.exportToCsv())
    assert(!new java.io.File(s"$base/csv").exists()) // no partial output
  }

  test("one copy of a single-file parquet table runs at most 7 Spark jobs") {
    // export 3 (source schema, width sample, CSV write), convert 4 (width
    // sample, Parquet write, two-stage column statistics), create 0; a
    // change that adds a pass to the copy fails here
    val base = Files.createTempDirectory("transformer_jobs_").toString
    spark.range(5000).select(col("id"), (col("id") % 7).cast("int").as("k"),
        concat(lit("row "), col("id").cast("string")).as("s"))
      .coalesce(1).write.parquet(s"$base/source")
    val t = new TableTransformer(spark, s"$base/source", PathConfig(base), "spectrum_jobs", "t")
    val jobs = JobCount.of(spark) {
      t.exportToCsv()
      t.convertToParquet()
      t.createTable()
    }
    assert(jobs <= 7, s"a table copy ran $jobs Spark jobs, more than 7")
  }

  private def catalogStats(db: String, table: String): CatalogStatistics =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table, Some(db))).stats
      .getOrElse(fail(s"$db.$table has no catalog statistics"))

  test("createTable stores exactly the statistics ANALYZE ... FOR ALL COLUMNS writes") {
    // every supported type, every fifth row NULL, multibyte text carrying
    // the dialect's escaped characters
    val id = col("id")
    def sparse(c: org.apache.spark.sql.Column) = when(id % 5 =!= 0, c)
    val src = spark.range(60).select(
      id.as("c_bigint"),
      sparse((id * 7).cast("int")).as("c_int"),
      sparse((id % 9).cast("smallint")).as("c_smallint"),
      sparse(id / 3.0).as("c_double"),
      sparse((id * 0.25).cast("float")).as("c_real"),
      sparse(concat(lit("ключ|"), (id % 13).cast("string"), lit("\\ニュース\n"))).as("c_text"),
      sparse(id % 2 === 0).as("c_bool"),
      sparse(timestamp_seconds(id * 3601 + 1451649600L)).as("c_ts"),
      sparse(date_add(lit("2016-01-01").cast("date"), (id % 40).cast("int"))).as("c_date"),
      sparse((id * 1234567.125).cast("decimal(38,9)")).as("c_dec"))
    val base = Files.createTempDirectory("transformer_stats_").toString
    val t = TableTransformer.ofDataFrame(spark, src, PathConfig(base), "stats_eq", "all_types")
    t.exportToCsv()
    t.convertToParquet()
    val name = t.createTable()
    val stored = catalogStats("stats_eq", "all_types")

    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
    val analyzed = catalogStats("stats_eq", "all_types")
    assert(analyzed.rowCount.contains(BigInt(60)) && analyzed.colStats.size == src.columns.length)
    for ((c, s) <- analyzed.colStats) assert(stored.colStats.get(c).contains(s), s"column $c")
    assert(stored == analyzed)

    // a fresh transformer did not convert: its standalone create ANALYZEs
    TableTransformer.ofDataFrame(spark, src, PathConfig(base), "stats_eq", "all_types")
      .createTable()
    assert(catalogStats("stats_eq", "all_types") == analyzed)
  }
}
