package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Bridge into `private[sql]` Spark internals the library needs:
  * Column <-> catalyst Expression conversion and StaticInvoke
  * construction (both are stable internals used the same way by
  * Spark's own function DSL).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** StaticInvoke of a static method on `cls` with double-typed args. */
  def staticInvoke(cls: Class[_], returnType: DataType, method: String,
                   args: Seq[Column], argTypes: Seq[DataType]): Column =
    column(StaticInvoke(cls, returnType, method, args.map(expression),
      argTypes, propagateNull = true, returnNullable = false))

  /** `df` with Spark's NO_BROADCAST_HASH join strategy hint: a join
    * never broadcasts it, while the planner and AQE stay free to pick
    * any other strategy. The hint has no SQL name (AQE's own
    * DynamicJoinSelection sets it), hence the bridge.
    */
  def noBroadcastHash(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      ResolvedHint(ds.logicalPlan, HintInfo(strategy = Some(NO_BROADCAST_HASH))))
  }

  /** Eager Column -> catalyst conversion through the active session
    * converter (ExpressionUtils.expression alone leaves a lazy wrapper
    * the analyzer will not unwrap inside a function builder).
    */
  def expressionEager(c: Column): Expression =
    SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .expression(c)

  /** Apply a SparkSessionExtensions' injected functions to a live
    * registry (what session bootstrap does; used by tests to exercise
    * the extension path inside an existing session).
    */
  def applyExtensionFunctions(ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Register a Column-builder as a session SQL function (same
    * expression tree as the DataFrame DSL — no UDF indirection).
    */
  def registerFunction(spark: SparkSession, name: String, arity: Int,
                       builder: Seq[Column] => Column): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(name, { exprs: Seq[Expression] =>
      require(exprs.length == arity,
        s"$name expects $arity arguments, got ${exprs.length}")
      expressionEager(builder(exprs.map(column)))
    }, "internal")
  }
}
