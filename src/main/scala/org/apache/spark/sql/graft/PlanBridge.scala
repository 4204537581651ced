package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset}

/** The two package-private Spark entry points graft's own logical
  * nodes need: a Column's Catalyst expression, and a DataFrame over a
  * hand-built plan (analyzed like any other, so unresolved column
  * references inside the node resolve against its child). */
object PlanBridge {

  def expression(spark: SparkSession, c: Column): Expression =
    ClassicConversions.castToImpl(spark).expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)
}
