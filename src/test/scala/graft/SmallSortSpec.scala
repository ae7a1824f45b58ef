package graft

import graft.plans.SmallSort
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The size-gated single-partition ORDER BY: a small result's root sort
  * plans one `Exchange SinglePartition` and no range-sampling job; every
  * other sort keeps Spark's plan. The spec session carries the rule
  * through `GraftExtensions`; a session without it gets it from
  * `SmallSort.setup`.
  */
class SmallSortSpec extends SparkSpec {

  // four partitions, so a range sort has something to sample
  private def small(s: SparkSession): DataFrame =
    s.range(0, 200, 1, 4).select(col("id"), (col("id") % 7).as("g"))
      .orderBy(col("g").desc, col("id"))

  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** A session sharing the context whose broadcast threshold is -1. */
  private def unsized: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  test("a small root orderBy sorts in one partition, with one job fewer") {
    val plan = planText(small(spark))
    assert(plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    val one = jobsOf(small(spark).collect())
    val ranged = jobsOf(small(unsized).collect())
    assert(one.size == ranged.size - 1, s"single $one vs range $ranged")
  }

  test("broadcast threshold -1: the range exchange, same rows in the same " +
      "order") {
    val plan = planText(small(unsized))
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("SinglePartition"), plan)
    assert(rows(small(unsized)) == rows(small(spark)))
    assert(rows(small(spark)).map(_(1)).take(2) == Seq(6L, 6L))
  }

  test("orderBy + limit stays TakeOrderedAndProject") {
    val plan = planText(small(spark).limit(5))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("interior sorts are left alone") {
    val interior = small(spark).filter(col("id") > 3)
      .queryExecution.analyzed
    assert(SmallSort(interior) eq interior)
    val local = spark.range(0, 200, 1, 4).sortWithinPartitions(col("id"))
      .queryExecution.analyzed
    assert(SmallSort(local) eq local)
  }

  test("streaming sorts are left alone") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val plan = MemoryStream[Long].toDF().groupBy(col("value")).count()
      .orderBy(col("value")).queryExecution.analyzed
    assert(plan.isStreaming)
    assert(SmallSort(plan) eq plan)
  }

  test("setup installs the rule once, and a second application changes " +
      "nothing") {
    val s = spark.newSession()
    SmallSort.setup(s)
    SmallSort.setup(s)
    assert(s.experimental.extraOptimizations.count(_ == SmallSort) == 1)
    val once = SmallSort(small(s).queryExecution.analyzed)
    assert(SmallSort(once) eq once)
  }
}
