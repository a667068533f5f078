package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.command.CommandUtils
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}

/** Column <-> Expression and LogicalPlan <-> DataFrame bridge.
  *
  * Spark 4 made the Column/Expression conversion utilities (and
  * `Dataset.ofRows`, the only way to lift a hand-built [[LogicalPlan]] into a
  * [[DataFrame]]) private[sql]; the supported pattern for extension libraries
  * that ship native Catalyst expressions/operators is a small shim inside the
  * org.apache.spark.sql namespace (same approach as frameless / spark-daria).
  * Everything referenced here is Spark's own public-jar bytecode; no behavior
  * is modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an analyzed logical plan as a DataFrame on the given session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Row count and per-column statistics of every column of `df`, from
    * the one aggregate `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL
    * COLUMNS` runs (Spark's own `CommandUtils.computeColumnStats`), keyed
    * by column name in the catalog's form. One global aggregate over
    * `df`: two jobs under AQE, its partial and its final stage.
    */
  def columnStats(df: DataFrame): (Long, Map[String, CatalogColumnStat]) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val plan = ds.queryExecution.analyzed
    val (rows, stats) = CommandUtils.computeColumnStats(ds.sparkSession, plan, plan.output)
    rows -> stats.map { case (a, s) => a.name -> s.toCatalogColumnStat(a.name, a.dataType) }
  }

  /** Store `rowCount` and `colStats` as the catalog statistics of `table`,
    * with the size of the files under its location: the final step of
    * `AnalyzeColumnCommand`, for statistics computed elsewhere.
    */
  def storeStats(spark: SparkSession, table: String, rowCount: Long,
                 colStats: Map[String, CatalogColumnStat]): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val ident = s.sessionState.sqlParser.parseTableIdentifier(table)
    val catalog = s.sessionState.catalog
    val (size, _) = CommandUtils.calculateTotalSize(s, catalog.getTableMetadata(ident))
    catalog.alterTableStats(ident, Some(CatalogStatistics(size, Some(BigInt(rowCount)), colStats)))
  }
}
