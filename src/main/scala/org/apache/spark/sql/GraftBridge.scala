package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` API surface for graft's native
  * Catalyst expressions (Column <-> Expression conversion and function
  * registration) and its V1 streaming sink (streaming batch -> writable
  * batch frame). Kept to one-liners so the private-API contact area is
  * explicit and auditable. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def register(spark: SparkSession, name: String,
               builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
  // a V1 Sink's addBatch frame: re-wrap the incremental plan's rows as
  // a writable BATCH frame (df.write on the streaming frame itself throws)
  def batchFrame(df: Dataset[Row]): DataFrame = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    c.sparkSession.internalCreateDataFrame(c.queryExecution.toRdd, c.schema, isStreaming = false)
  }
  // a resolved logical plan as a DataFrame — the MERGE INTO command's
  // source side (the same Dataset.ofRows call Spark's own command
  // execs make)
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  // test hook: a sibling session whose sessionState is rebuilt from the
  // parent's SparkSessionExtensions AFTER `inject` ran — the only way a
  // spec sharing one JVM-wide SparkContext can get an injected analyzer
  // rule (extensions apply at sessionState build, and getOrCreate
  // returns the pre-existing session unchanged)
  def sessionWithInjected(s: SparkSession)
                         (inject: SparkSessionExtensions => Unit): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession]
    inject(c.extensions)
    c.newSession()
  }
}
