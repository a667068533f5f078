package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.Tables

/** The injected optimizer rule must be a no-op by default, rewrite exact
  * distinct counts to HLL++ when the session flag is on, and honor the
  * configured relative error.
  */
class ApproxDistinctRewriteSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def distinctParts = Tables.load(spark, sfDir, "lineitem")
    .groupBy("l_returnflag")
    .agg(countDistinct(col("l_partkey")).as("nd"))

  test("default off: plan keeps the exact distinct aggregate") {
    spark.conf.unset("spark.graft.approxDistinct")
    val plan = distinctParts.queryExecution.optimizedPlan.toString
    assert(plan.contains("count(distinct") || plan.contains("count(l_partkey"),
      s"expected exact distinct count:\n$plan")
    assert(!plan.contains("approx_count_distinct"), s"rule fired while off:\n$plan")
  }

  test("flag on: COUNT(DISTINCT) becomes an HLL++ sketch within tolerance") {
    val exact = distinctParts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      spark.conf.set("spark.graft.approxDistinct", "true")
      spark.conf.set("spark.graft.approxDistinct.rsd", "0.02")
      val df = distinctParts
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"), s"rule did not fire:\n$plan")
      // column name/schema preserved by the resultId-preserving rewrite
      assert(df.columns.toSeq == Seq("l_returnflag", "nd"))
      df.collect().foreach { r =>
        val (flag, approx) = (r.getString(0), r.getLong(1))
        val e = exact(flag).toDouble
        assert(math.abs(approx - e) <= e * 0.05,
          s"$flag: approx $approx vs exact $e beyond 5%")
      }
    } finally {
      spark.conf.unset("spark.graft.approxDistinct")
      spark.conf.unset("spark.graft.approxDistinct.rsd")
    }
  }

  test("sql surface: SELECT COUNT(DISTINCT ...) rewrites too") {
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("orders_adr")
    try {
      spark.conf.set("spark.graft.approxDistinct", "true")
      val df = spark.sql("SELECT COUNT(DISTINCT o_custkey) AS nd FROM orders_adr")
      assert(df.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"))
      assert(df.collect().head.getLong(0) > 0)
    } finally spark.conf.unset("spark.graft.approxDistinct")
  }

  /** Apply the rule under a session whose only setting is `conf`, to an
    * exact distinct count planned in the shared session.
    */
  private def rewriteUnder(conf: (String, String)*): Unit = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    ApproxDistinctRewrite(s)(distinctParts.queryExecution.analyzed)
  }

  test("a flag that is not a boolean fails naming the key") {
    val key = "spark.graft.approxDistinct"
    for (bad <- Seq("yes", "1", "")) {
      val e = intercept[IllegalArgumentException](rewriteUnder(key -> bad))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    rewriteUnder(key -> "FALSE")
  }

  test("an rsd outside HLL++'s range fails naming the key") {
    val key = "spark.graft.approxDistinct.rsd"
    // 0.5 leaves HLL++ fewer than 4 addressing bits
    for (bad <- Seq("abc", "0", "-0.05", "NaN", "Infinity", "0.5")) {
      val e = intercept[IllegalArgumentException](
        rewriteUnder("spark.graft.approxDistinct" -> "true", key -> bad))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    rewriteUnder("spark.graft.approxDistinct" -> "true", key -> "0.3")
  }
}
