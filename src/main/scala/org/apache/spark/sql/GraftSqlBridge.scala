package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to Spark 4's `private[sql]` Column ↔ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Needed by
  * `graft.generator.Generator`'s element-scoped computed fields, which
  * splice already-built sibling Columns into parsed sql expression trees
  * (the Spark-Connect refactor moved `Column` onto `ColumnNode`, so the
  * old `new Column(expr)` / `col.expr` surface is package-private now).
  */
object GraftSqlBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Eagerly convert a Column's node tree to a real (unresolved) Catalyst
    * Expression. `ExpressionUtils.expression` wraps the node LAZILY in a
    * `ColumnNodeExpression` whose `.sql` renders as a fake
    * `columnnodeexpression(...)` call — useless as SQL text. The converter
    * produces the genuine UnresolvedFunction/UnresolvedAttribute tree,
    * whose `.sql` round-trips through `expr()` (lambda-free columns only).
    */
  def toSqlText(c: Column): String =
    classic.ColumnNodeToExpressionConverter(c.node).sql

  /** Rebind a DataFrame's logical plan to another session of the SAME
    * SparkContext (`Dataset.ofRows` is private[sql]). Used by iterative
    * jobs (connected components) that size `spark.sql.shuffle.partitions`
    * for the job in a CLONED session instead of mutating the caller's —
    * a locally checkpointed input is a LogicalRDD over the SparkContext's
    * blocks, so the clone reads the same materialized rows. */
  def withSession(df: DataFrame, s: SparkSession): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], df.queryExecution.logical)

  /** A DataFrame over Catalyst rows of `schema` as they are
    * (`internalCreateDataFrame` is private[sql]): no `Row` serializer runs,
    * which `createDataFrame(RDD[Row], schema)` would apply to every row.
    * The scan gives no partitioning; a caller that needs one states it. */
  def internalFrame(s: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    s.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
