package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.{Descending, SortOrder}
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import graft.plans.{TopKPerKeyNode, TopKStrategy}

/** The single construction path for every custom Catalyst node. Custom
  * expressions (`ExtractDoc`, `CosineSim`, `Simhash64`,
  * `MinhashSigs`, `BandHashes`, `HyperplaneSigs`, `CentroidArgsort`,
  * `PagedLinkLines`) enter a plan as typed Columns,
  * `column(Node(expression(..)))`; none is registered under a SQL function
  * name. The custom TopKPerKey logical node is exposed as a
  * DataFrame -> DataFrame operator through Spark's private[sql] Dataset
  * constructor, and its planner strategy is registered on first use.
  * Lives under org.apache.spark.sql.* for access scope only — the standard
  * pattern for Catalyst extension libraries.
  */
object GraftBridge {

  /** Exact top-k rows per key, by descending `orderCol`. Registers the
    * planner strategy on first use (idempotent). */
  def topKPerKey(dfIn: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      keyCols: Seq[String], orderCol: String,
      k: Int): DataFrame = {
    val df = dfIn.asInstanceOf[DataFrame]
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val plan = df.queryExecution.analyzed
    val keyExprs = keyCols.map(c =>
      plan.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c in ${plan.output}")))
    val ordAttr = plan.output.find(_.name == orderCol).getOrElse(
      throw new IllegalArgumentException(s"no column $orderCol"))
    val order = SortOrder(ordAttr, Descending)
    Dataset.ofRows(spark, TopKPerKeyNode(keyExprs, order, k, plan))
  }

  /** Wrap a raw Catalyst Expression as a user-facing Column (the classic
    * ExpressionUtils converter is private[sql] — hence this bridge). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** `s` with every field, element and value nullable (`asNullable` is
    * private[spark]): the schema a parquet read reports for files written
    * with `s`. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Inverse: the Catalyst Expression behind a Column. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
