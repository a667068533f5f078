package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import graft.schema.{RedshiftType, TableSchema}

/** Port of the reference CSV-dialect fixtures: FIXTURES.md A2/A3
  * (tests/test_csv_converter.py + tests/test_util_s3.py + convert.py:41-72).
  */
class UnloadCsvSpec extends SparkSpec {
  import RedshiftType._

  private def gzipFile(dir: String, name: String, content: String): String = {
    val f = s"$dir/$name"
    val out = new GZIPOutputStream(new FileOutputStream(f))
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    f
  }

  // FIXTURES A3: every parse rule — escaped delimiter, unicode, NULL in every
  // type, pg booleans, micros timestamps, decimal(38,9).
  private val a3Schema = TableSchema(Seq(
    "id" -> RsInteger, "flag" -> RsBoolean, "x" -> RsDoublePrecision,
    "ts" -> RsTimestamp, "d" -> RsDate, "s" -> RsVarchar(Some(64)),
    "n" -> RsDecimal(38, 9)))

  private val a3Csv =
    "1|t|3.14|2016-01-01 12:00:00.000000|2016-01-01|hello|12345678901234567890.123456789\n" +
    "2|f||2007-07-13 01:23:34.123456||wor\\|ld|0.5\n" +
    "3||2.5|||ニュース|\n"

  test("A3: unload dialect round-trips every parse rule") {
    val dir = Files.createTempDirectory("unload_csv_").toString
    gzipFile(dir, "part0.csv.gz", a3Csv)
    val rows = UnloadCsv.read(spark, a3Schema, Seq(s"$dir/part0.csv.gz"))
      .orderBy("id").collect()

    assert(rows.length == 3)
    assert(rows(0).getInt(0) == 1 && rows(0).getBoolean(1) && rows(0).getDouble(2) == 3.14)
    assert(rows(0).getTimestamp(3).toString == "2016-01-01 12:00:00.0")
    assert(rows(0).getDate(4).toString == "2016-01-01")
    assert(rows(0).getString(5) == "hello")
    assert(rows(0).getDecimal(6).toPlainString == "12345678901234567890.123456789")

    assert(rows(1).getInt(0) == 2 && !rows(1).getBoolean(1))
    assert(rows(1).isNullAt(2)) // '' -> NULL double
    assert(rows(1).getString(5) == "wor|ld") // escaped delimiter
    assert(rows(1).getDecimal(6).toPlainString == "0.500000000")

    assert(rows(2).isNullAt(1) && rows(2).isNullAt(3) && rows(2).isNullAt(4) && rows(2).isNullAt(6))
    assert(rows(2).getString(5) == "ニュース") // unicode survives
  }

  // FIXTURES A2: 4 INTEGER columns x 4 rows.
  test("A2: typed columnar conversion of the 4-int fixture") {
    val dir = Files.createTempDirectory("unload_csv_").toString
    gzipFile(dir, "ints.csv.gz", "1|2|3|4\n1|2|3|4\n1|2|3|4\n1|2|3|4\n")
    val schema = TableSchema((1 to 4).map(i => s"c$i" -> (RsInteger: RedshiftType)))
    val df = UnloadCsv.read(spark, schema, Seq(s"$dir/ints.csv.gz"))
    assert(df.schema.fields.forall(_.dataType.typeName == "integer"))
    val rows = df.collect()
    assert(rows.length == 4 && rows.forall(r => (1 to 4).forall(i => r.getInt(i - 1) == i)))
  }

  test("manifest-driven enumeration (R2, convert.py:97-99)") {
    val dir = Files.createTempDirectory("unload_csv_").toString
    gzipFile(dir, "p1.csv.gz", "1|2|3|4\n")
    gzipFile(dir, "p2.csv.gz", "5|6|7|8\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/manifest"),
      s"""{"entries": [{"url": "$dir/p1.csv.gz"}, {"url": "$dir/p2.csv.gz"}]}""")
    val schema = TableSchema((1 to 4).map(i => s"c$i" -> (RsInteger: RedshiftType)))
    val df = UnloadCsv.readManifest(spark, schema, s"$dir/manifest")
    assert(df.count() == 2)
  }

  private def manifest(json: String): String = {
    val p = Files.createTempDirectory("unload_manifest_").resolve("manifest")
    Files.writeString(p, json)
    p.toString
  }

  test("manifest entries come back in entry order") {
    val urls = Seq("s3://b/p/0003.gz", "s3://b/p/0001.gz", "file:/t/ü 2.gz", "s3://b/p/0002.gz")
    val m = manifest(urls.map(u => s"""{"url": "$u", "mandatory": true}""")
      .mkString("""{"entries": [""", ",\n  ", "]}"))
    assert(UnloadCsv.manifestEntries(spark, m) == urls)
  }

  test("an empty entries list gives no parts and an empty typed frame") {
    val m = manifest("""{"entries": []}""")
    assert(UnloadCsv.manifestEntries(spark, m).isEmpty)
    val df = UnloadCsv.readManifest(spark, TableSchema(Seq("a" -> RsInteger)), m)
    assert(df.columns.toSeq == Seq("a") && df.count() == 0)
  }

  test("a malformed manifest fails with an error naming its path") {
    for (bad <- Seq("""{"entries": [{"url": "a.gz"}""", """{"files": []}""", "",
      """{"entries": {"url": "a.gz"}}""", """{"entries": [{"path": "a.gz"}]}""")) {
      val m = manifest(bad)
      val e = intercept[IllegalArgumentException](UnloadCsv.manifestEntries(spark, m))
      assert(e.getMessage.contains(m), s"'$bad': ${e.getMessage}")
    }
  }

  test("dangling escape at EOF fails with a dialect error, not a closed-stream read") {
    val e = intercept[IllegalArgumentException] {
      val it = new UnloadRecordIterator(new java.io.StringReader("a|b\\"))
      while (it.hasNext) it.next()
    }
    assert(e.getMessage.contains("dangling escape"))
  }

  test("lone CR lookahead re-enters the dialect match (CR before escaped LF)") {
    // "x\r" + "\\\n" + "y\n": the escaped LF after the lone CR must stay
    // record content (one record), not terminate it
    val it = new UnloadRecordIterator(new java.io.StringReader("x\r\\\ny\n"))
    val recs = it.toList
    assert(recs == List("x\r\\\ny"))
  }

  test("corrupt cell fails the job (convert.py:55 ValueError analog)") {
    val dir = Files.createTempDirectory("unload_csv_").toString
    gzipFile(dir, "bad.csv.gz", "notanumber|t\n")
    val schema = TableSchema(Seq("a" -> RsInteger, "b" -> RsBoolean))
    intercept[Exception] {
      UnloadCsv.read(spark, schema, Seq(s"$dir/bad.csv.gz")).collect()
    }
  }
}
