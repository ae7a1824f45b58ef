package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The session table cache's layout: each corpus table is cached
  * hash-partitioned on its key (first column), so key aggregations and
  * key joins over the cached scan need no further exchange.
  */
class TablesLayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // a private copy of the corpus, so the cache entries are this suite's
  // own: other suites clear the shared CacheManager, which drops the
  // corpus entries from under later plans
  private lazy val dir = corpusCopy("tables-layout")

  test("every corpus table is cached hash-partitioned on its first column " +
      "with defaultParallelism partitions") {
    val n = spark.sparkContext.defaultParallelism
    for (t <- Tables.names) {
      val df = Tables.load(spark, dir, t)
      val cachedPlan = df.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cachedPlan
      }.getOrElse(fail(s"$t is not cached"))
      val exchanges = collect(cachedPlan) { case e: ShuffleExchangeLike => e }
      assert(exchanges.size == 1, s"$t:\n$cachedPlan")
      exchanges.head.outputPartitioning match {
        case HashPartitioning(Seq(key: Attribute), parts) =>
          assert(key.name == df.columns.head && parts == n,
            s"$t: hashed on ${key.name} into $parts, want ${df.columns.head} into $n")
        case other => fail(s"$t: cached as $other, want hash on ${df.columns.head}")
      }
    }
  }

  test("lineitem groupBy(l_orderkey) plans no shuffle above the cached scan") {
    val lineitem = Tables.load(spark, dir, "lineitem")
    // under AQE the cached relation reports its partitioning once it has run
    lineitem.count()
    val agg = lineitem.groupBy("l_orderkey").count()
    val plan = agg.queryExecution.executedPlan
    assert(collectFirst(plan) { case s: InMemoryTableScanExec => s }.isDefined,
      s"aggregation does not read the cache:\n$plan")
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty,
      s"key aggregation re-shuffled the cached table:\n$plan")
    val direct = Tables.loadUncached(spark, dir, "lineitem")
      .groupBy("l_orderkey").count()
    assert(rows(agg).map(_.mkString("|")).sorted ==
      rows(direct).map(_.mkString("|")).sorted)
  }

  test("a table whose cache entry was cleared is cached again on its next load") {
    Tables.load(spark, dir, "orders").count()
    spark.catalog.clearCache()
    val agg = Tables.load(spark, dir, "orders").groupBy("o_orderkey").count()
    val plan = agg.queryExecution.executedPlan
    assert(collectFirst(plan) { case s: InMemoryTableScanExec => s }.isDefined,
      s"the reloaded table does not read the cache:\n$plan")
  }
}
