package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator: the TPC-H-like star schema plus `events` and
  * `documents` in the shape of the engine's test tables, and `typed_mix`,
  * one column per supported Redshift type with NULLs and every character
  * the unload dialect has to escape.
  *
  * Large tables are one Spark projection over `range` whose every value is
  * a hash of (seed, row id, column); the small ones with row-to-row
  * structure (near-duplicate documents, `typed_mix`) are built on the
  * driver from a [[SplittableRandom]]. Either way a seed fixes every value
  * of every table regardless of core count. Each
  * table is written as ONE parquet file (`<dir>/<name>.parquet/part-*`),
  * the layout of a single exported table, with timestamps as
  * TIMESTAMP_NTZ (parquet `isAdjustedToUTC = false`), the type naive
  * timestamps from a warehouse export carry.
  */
object Gen {

  final case class Sizes(sf: Double) {
    private def n(base: Double, min: Int) = math.max(min, math.round(base * sf).toInt)
    val customer: Int = n(150000, 30)
    val supplier: Int = n(10000, 10)
    val part: Int = n(200000, 40)
    val orders: Int = n(1500000, 300)
    val lineitem: Int = n(6000000, 1200)
    val events: Int = n(1000000, 1000)
    val users: Int = n(15000, 15)
    val documents: Int = n(50000, 500)
    val typedMix: Int = 2000
  }

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)
  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Adjectives = Vector("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Vector("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val Words = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
  private val Day0 = LocalDate.of(1995, 1, 1)

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** Uniform 64-bit draw `k` for the row with id `id`: a pure function of
    * (seed, id, k), so a table's content never depends on partitioning.
    */
  private def h(seed: Long, k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
  private def below(seed: Long, k: Int, n: Long): Column = pmod(h(seed, k), lit(n))
  private def unit(seed: Long, k: Int): Column = below(seed, k, 1000000000L) / 1e9
  private def oneOf(seed: Long, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (below(seed, k, xs.size.toLong) + 1).cast("int"))
  private def cents(seed: Long, k: Int, lo: Long, hi: Long): Column =
    (below(seed, k, hi - lo) + lo) / 100.0
  private def day(seed: Long, k: Int, from: Int, n: Int): Column =
    date_add(lit(Day0), (below(seed, k, n.toLong) + from).cast("int")).cast(TimestampNTZType)

  /** Row-independent tables: one Spark projection over `range`; None for
    * the tables built on the driver.
    */
  private def projected(spark: SparkSession, name: String, sz: Sizes,
                        seed: Long): Option[DataFrame] = {
    def range(n: Int) = spark.range(0, n.toLong, 1, 4)
    Option(name match {
      case "customer" => range(sz.customer).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
        below(seed, 31, 25).cast("int").as("c_nationkey"),
        cents(seed, 32, -99999, 999999).as("c_acctbal"), oneOf(seed, 33, Segments).as("c_mktsegment"))
      case "supplier" => range(sz.supplier).select(col("id").as("s_suppkey"),
        concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
        below(seed, 41, 25).cast("int").as("s_nationkey"),
        cents(seed, 42, -99999, 999999).as("s_acctbal"))
      case "part" => range(sz.part).select(col("id").as("p_partkey"),
        concat_ws(" ", oneOf(seed, 51, Adjectives), oneOf(seed, 52, Nouns)).as("p_name"),
        concat(lit("Brand#"), (below(seed, 53, 25) + 1).cast("string")).as("p_brand"),
        oneOf(seed, 54, PartTypes).as("p_type"), (below(seed, 55, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice"))
      case "orders" => range(sz.orders).select(col("id").as("o_orderkey"),
        below(seed, 61, sz.customer.toLong).as("o_custkey"),
        oneOf(seed, 62, Seq("F", "O", "P")).as("o_orderstatus"),
        cents(seed, 63, 100000, 50000000).as("o_totalprice"),
        day(seed, 64, 0, 2400).as("o_orderdate"), oneOf(seed, 65, Priorities).as("o_orderpriority"))
      case "lineitem" => range(sz.lineitem).select(
        below(seed, 71, sz.orders.toLong).as("l_orderkey"),
        below(seed, 72, sz.part.toLong).as("l_partkey"),
        below(seed, 73, sz.supplier.toLong).as("l_suppkey"),
        (below(seed, 74, 7) + 1).cast("int").as("l_linenumber"),
        (below(seed, 75, 50) + 1).cast("double").as("l_quantity"),
        cents(seed, 76, 90000, 10500000).as("l_extendedprice"),
        (below(seed, 77, 11) / 100.0).as("l_discount"), (below(seed, 78, 9) / 100.0).as("l_tax"),
        oneOf(seed, 79, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(seed, 80, Seq("F", "O")).as("l_linestatus"), day(seed, 81, 1, 2500).as("l_shipdate"))
      case "events" =>
        // 30 days of strictly increasing timestamps, jittered within a slot
        val slotUs = 30L * 86400L * 1000000L / sz.events
        range(sz.events).select(col("id").as("event_id"),
          (lit(LocalDateTime.of(2024, 1, 1, 0, 0)) + make_dt_interval(lit(0), lit(0), lit(0),
            ((col("id") * slotUs + below(seed, 91, slotUs)) / 1e6).cast("decimal(18,6)")))
            .as("ts"),
          below(seed, 92, sz.users.toLong).as("user_id"), oneOf(seed, 93, EventTypes).as("event_type"),
          greatest(lit(0.01), round(-log(lit(1.0) - unit(seed, 94)) * 25, 2)).as("value"),
          concat(lit("{\"k\": "), below(seed, 95, 100).cast("string"), lit("}")).as("props"))
      case _ => null
    })
  }

  private def rows(name: String, sz: Sizes, seed: Long): (StructType, Seq[Row]) =
    name match {
      case "region" =>
        (schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
          Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
            .map { case (n, i) => Row(i, n) })
      case "nation" =>
        (schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
          (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      case "documents" =>
        val r = rng(seed, 9)
        val texts = new Array[String](sz.documents)
        (schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
          "source" -> StringType, "n_chars" -> LongType),
          (0 until sz.documents).map { i =>
            // ~5% near-duplicates: an earlier document plus one or two
            // marker words, the dedup families' positive pairs
            texts(i) =
              if (i > 0 && r.nextInt(20) == 0)
                texts(r.nextInt(i)) + " dup" * (1 + r.nextInt(2))
              else Seq.fill(10 + r.nextInt(90))(pick(r, Words)).mkString(" ")
            Row(i.toLong, texts(i), pick(r, Langs), s"src${i % 20}", texts(i).length.toLong)
          })
      case "typed_mix" => typedMix(sz, seed)
    }

  private val Specials = Vector("pipe|inside", "back\\slash", "line\nfeed", "carriage\rreturn",
    "crlf\r\nboth", "trailing\\", "|", "ניר", "ニュース", "François Pinard",
    "Martin von Löwis", "mixed | \\ \n é")

  /** One column per Redshift type (CHAR and TEXT share Spark's StringType
    * with VARCHAR); every column but `id` is NULL in about 1 row of 10.
    */
  private def typedMix(sz: Sizes, seed: Long): (StructType, Seq[Row]) = {
    val r = rng(seed, 10)
    def orNull[A](v: => A): Any = if (r.nextInt(10) == 0) null else v
    def str(): String =
      if (r.nextInt(3) == 0) pick(r, Specials)
      else Seq.fill(1 + r.nextInt(6))(pick(r, Words)).mkString(" ")
    val st = schema("id" -> LongType, "int_col" -> IntegerType, "smallint_col" -> ShortType,
      "double_col" -> DoubleType, "real_col" -> FloatType, "varchar_col" -> StringType,
      "char_col" -> StringType, "text_col" -> StringType, "bool_col" -> BooleanType,
      "ts_col" -> TimestampNTZType, "date_col" -> DateType, "dec_col" -> DecimalType(38, 9))
    (st, (0 until sz.typedMix).map { i =>
      Row(i.toLong, orNull(r.nextInt()), orNull((r.nextInt(65536) - 32768).toShort),
        orNull((r.nextDouble() - 0.5) * math.pow(10, r.nextInt(12) - 3)),
        orNull(((r.nextDouble() - 0.5) * 1000).toFloat), orNull(str()),
        orNull(f"${pick(r, Words)}%-8s"), orNull(str() + " " + str()),
        orNull(r.nextBoolean()),
        orNull(LocalDateTime.of(1990, 1, 1, 0, 0).plusNanos(
          1000L * ((r.nextLong() & Long.MaxValue) % (40L * 365 * 86400 * 1000000L)))),
        orNull(LocalDate.of(1970, 1, 1).plusDays(r.nextInt(40000) - 10000)),
        orNull(new java.math.BigDecimal(java.math.BigInteger.valueOf(r.nextLong() >> r.nextInt(40)), 9)))
    })
  }

  /** Write `names` under `dir`, one Spark job per table, all at once;
    * returns each table's on-disk bytes.
    */
  def write(spark: SparkSession, dir: String, names: Seq[String], sf: Double,
            seed: Long): Map[String, Long] = {
    val sz = Sizes(sf)
    val dfs = names.map(n => n -> projected(spark, n, sz, seed).getOrElse {
      val (st, rs) = rows(n, sz, seed)
      spark.createDataFrame(rs.asJava, st)
    })
    import scala.concurrent.{Await, Future, duration}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = dfs.map { case (n, df) =>
      Future(df.coalesce(1).write.mode("overwrite")
        .option("compression", "snappy").parquet(s"$dir/$n.parquet"))
    }
    Await.result(Future.sequence(writes), duration.Duration.Inf)
    names.map(n => n -> Files.bytes(s"$dir/$n.parquet")).toMap
  }
}

/** Local-filesystem helpers for output accounting. */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}

  private def walk(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .toList
      finally s.close()
    }
  }

  /** Data files under `path`, hidden checksum and marker files excluded. */
  def count(path: String): Long = walk(path).size.toLong
  def bytes(path: String): Long = walk(path).map(JFiles.size).sum

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(JFiles.deleteIfExists)
      finally s.close()
    }
  }
}
