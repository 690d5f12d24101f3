package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4 moved Column to a backend-agnostic node representation; the
  * Expression<->Column bridge (`org.apache.spark.sql.classic.ExpressionUtils`)
  * is `private[sql]`. This shim, placed inside the `org.apache.spark.sql`
  * package namespace (the standard extension-library idiom), re-exports the
  * two conversions the engine's custom expressions need, plus the
  * `private[spark]` hooks [[scanOf]], [[cacheEntryOf]] and
  * [[drainListenerBus]].
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The alias name of `col.as("name")`, if the column is an alias node.
    * (`expression(c)` returns a lazy ColumnNodeExpression, NOT a catalyst
    * NamedExpression, so alias detection must look at the column node.)
    */
  def aliasName(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.Alias if a.name.size == 1 => Some(a.name.head)
    case _ => None
  }

  /** A frame whose plan is one `LogicalRDD` leaf over `ds`'s own executed
    * RDD: the leaf `localCheckpoint` builds, with no checkpoint under it.
    * Scanning it runs `ds`'s physical plan (for a persisted `ds`, a read of
    * its cache), and the leaf keeps `ds`'s output partitioning and ordering.
    */
  def scanOf(ds: DataFrame): DataFrame = classic.Dataset.ofRows(ds.queryExecution.sparkSession,
    LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, ds.isStreaming))

  /** The cache entry `ds` reads from, if it is cached: the builder of its
    * `InMemoryRelation`, one object per entry however many plans hit it.
    */
  def cacheEntryOf(ds: DataFrame): Option[AnyRef] =
    ds.queryExecution.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)

  /** Block until every listener has seen every event posted so far. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
