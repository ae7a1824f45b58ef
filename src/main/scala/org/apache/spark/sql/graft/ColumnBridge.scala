package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved `Column` to a ColumnNode facade (sql-api); the
  * Expression<->Column bridge lives in `private[sql]` ExpressionUtils. This
  * object, compiled inside the spark.sql package tree, re-exports it for
  * graft's custom Catalyst expressions (SURVEY §2.8/§2.12).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's bounded-priority-queue top-k aggregate (`CollectTopK`) is
    * `private[sql]` — re-exported here for the two-phase ANN rank. With
    * `reverse = true` it keeps the `num` SMALLEST values of `child`
    * (natural struct order) per group — the map-side partial buffer holds
    * at most `num` entries, so the shuffle carries k-element arrays, never
    * the full scored set — and evaluates to an ASCENDING array.
    */
  def collectBottomK(child: Column, num: Int): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollect
        .topK(ExpressionUtils.expression(child), num, reverse = true)
        .toAggregateExpression())

  /** Free the materialized blocks of a `localCheckpoint()`ed DataFrame.
    * Iterative operators (NN-descent, label propagation) supersede one
    * checkpoint per round; without an explicit unpersist the dead rounds'
    * blocks sit in the block manager until the ContextCleaner happens to
    * GC them, inflating memory pressure for whatever runs next. LogicalRDD
    * is `private[sql]`, hence the bridge.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** disk2-pin support: re-resolve `df`'s logical plan (so a plan persisted
    * a moment ago is substituted with its InMemoryRelation by the
    * CacheManager) and wrap the resulting physical RDD in a flat
    * `LogicalRDD` — the same lineage cut `Dataset.checkpoint` performs,
    * but scanning replicated-on-disk cached blocks instead of checkpoint
    * files. `fromDataset` carries the origin's output partitioning and
    * ordering into the flat node, so downstream rounds keep co-partitioning
    * info. Returns the flat frame plus the scan RDD's id (Pinning's unpin
    * registry key).
    */
  def flattenToCachedScan(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Int) = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fresh = org.apache.spark.sql.classic.Dataset.ofRows(
      cs, df.queryExecution.logical)
    val rdd = fresh.queryExecution.toRdd
    val flat = org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, fresh, isStreaming = false).newInstance())
    (flat.toDF(), rdd.id)
  }

  /** The ids of the `LogicalRDD`-wrapped scan RDDs anywhere in `df`'s
    * analyzed plan — how Pinning.unpin finds the disk2 registry entries of
    * a DERIVED frame (e.g. `pinned.select(...)`), where exact-plan
    * `Dataset.unpersist` matching fails.
    */
  def logicalRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }

  /** `SparkSession.sessionUUID` is `private[sql]`; graft.SessionMemo keys
    * its entries on it — unlike an object hash, a new session never
    * reuses it.
    */
  def sessionUUID(s: org.apache.spark.sql.SparkSession): String =
    s match {
      case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
    }

  /** Whether the session's CacheManager holds ANY cached plan —
    * `sharedState` is `private[sql]`. CacheLifecycleSpec uses this to
    * prove library operators never register session-lifetime plan caches
    * (the block-manager eviction pressure behind nondeterministic bench
    * numbers); explicitly memoized session caches (Tables.load, the
    * profile warehouse) are the only allowed entries.
    */
  def cacheManagerIsEmpty(s: org.apache.spark.sql.SparkSession): Boolean =
    s match {
      case c: org.apache.spark.sql.classic.SparkSession =>
        c.sharedState.cacheManager.isEmpty
      case _ => true
    }

  /** Debug/diagnostic: one-line summaries of every CacheManager entry —
    * lets a spec report WHICH plan leaked, not just that one did.
    */
  def cachedPlanSummaries(s: org.apache.spark.sql.SparkSession): Seq[String] =
    s match {
      case c: org.apache.spark.sql.classic.SparkSession =>
        val cm = c.sharedState.cacheManager
        val m = cm.getClass.getDeclaredMethod("cachedData")
        m.setAccessible(true)
        m.invoke(cm)
          .asInstanceOf[IndexedSeq[org.apache.spark.sql.execution.CachedData]]
          .map(cd => cd.plan.nodeName + ": " +
            cd.plan.treeString.linesIterator.take(3).mkString(" | "))
      case _ => Seq.empty
    }
}
