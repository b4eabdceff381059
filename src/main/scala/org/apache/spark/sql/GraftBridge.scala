package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.types.StructType

/**
 * Access bridge for `private[sql]` Expression↔Column conversion in Spark 4
 * (`org.apache.spark.sql.classic.ExpressionUtils`). This is the standard
 * extension-library pattern for registering custom Catalyst expressions
 * without a full SparkSessionExtensions function registry round-trip.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an RDD of `rowCount` Catalyst rows of `schema`, with
    * no per-row conversion (`SparkSession.internalCreateDataFrame`). The
    * relation carries `rowCount` and a size of `rowCount` ×
    * `schema.defaultSize` bytes as its statistics, in place of Spark's
    * default estimate, so a join plans a broadcast of it when it is small. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType, rowCount: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val stats = Statistics(sizeInBytes = BigInt(rowCount) * schema.defaultSize, rowCount = Some(rowCount))
    classic.Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(session, Some(stats)))
  }

  /** `df`'s rows mapped by `f` (an RDD transformation, shuffles included)
    * to rows of `schema`, as a DataFrame whose physical plan is `df`'s under
    * one `name` operator: `df` is optimized, planned and code-generated with
    * the query that reads the result, and `f` runs where that operator
    * executes, so building the result runs nothing. `f` receives whatever
    * rows `df`'s physical plan yields (a projection's are `UnsafeRow`s) and
    * must yield `UnsafeRow`s. */
  def mapRows(df: DataFrame, schema: StructType, name: String)(
      f: RDD[InternalRow] => RDD[InternalRow]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val standIn = spark.internalCreateDataFrame(spark.sparkContext.emptyRDD, schema)
      .logicalPlan.asInstanceOf[LogicalRDD]
    val exec = MapRowsExec(df.queryExecution.sparkPlan, standIn.output, name, f)
    classic.Dataset.ofRows(spark, new MapRowsStage(standIn, exec))
  }

  /** Block until every event posted so far has reached the listeners
    * (`SparkContext.listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Register a SQL function builder into an EXISTING session's registry
    * (the post-hoc form of `SparkSessionExtensions.injectFunction`). */
  def registerFunction(spark: SparkSession, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit = {
    val identifier = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    val info = new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name, usage)
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(identifier, info, builder)
  }
}

/** The logical plan of [[GraftBridge.mapRows]]. Spark plans a
  * `LogicalQueryStage` as the physical plan it holds; the stand-in relation
  * gives the result its output and Spark's default size estimate, so no
  * join broadcasts it, and fresh attributes for each side of a self-join. */
class MapRowsStage(standIn: LogicalRDD, exec: MapRowsExec)
    extends LogicalQueryStage(standIn, exec) with MultiInstanceRelation {
  override def newInstance(): LogicalPlan = {
    val fresh = standIn.newInstance()
    new MapRowsStage(fresh, exec.copy(output = fresh.output))
  }
}

/** The physical operator of [[GraftBridge.mapRows]]: `f` over its child's rows. */
case class MapRowsExec(child: SparkPlan, output: Seq[Attribute], name: String,
    f: RDD[InternalRow] => RDD[InternalRow]) extends UnaryExecNode {
  override def nodeName: String = name
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(output)
  override protected def doExecute(): RDD[InternalRow] = f(child.execute())
  override protected def withNewChildInternal(newChild: SparkPlan): MapRowsExec =
    copy(child = newChild)
}
