package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Crossover

/** The one crossover gate: the budget boundary of the bounded collect,
  * what it declines, and the forced-distributed scope. Every operator's
  * local ≡ distributed spec (ClusteringSpec, SimilaritySpec) relies on
  * that scope reaching the gate.
  */
class CrossoverSpec extends SparkSpec {

  // range-backed, so a collect runs real Spark jobs (a local Seq would
  // be answered from the driver's LocalRelation without one)
  private def pairs(n: Int) = spark.range(n)
    .select(col("id").as("src"), (col("id") + 1).as("dst"))

  test("take: budget rows go local, budget + 1 decline; nulls, string " +
      "ids and the forced scope decline") {
    val five = Crossover.take(pairs(5), 5, "src", "dst")
    assert(five.map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq) ==
      Some((0L until 5L).map(i => (i, i + 1))))
    assert(Crossover.take(pairs(5), 4, "src", "dst").isEmpty)
    // integral ids of any width come back as longs
    val ints = pairs(3).select(col("src").cast("int").as("src"),
      col("dst").cast("short").as("dst"))
    assert(Crossover.take(ints, 3, "src", "dst").get.map(_.getLong(1)).toSeq ==
      Seq(1L, 2L, 3L))
    val nullEnd = pairs(5).withColumn("dst",
      when(col("src") === 3, lit(null)).otherwise(col("dst")))
    assert(Crossover.take(nullEnd, 5, "src", "dst").isEmpty)
    val nullWeight = pairs(5).withColumn("weight",
      when(col("src") === 3, lit(null)).otherwise(lit(1.0)))
    assert(Crossover.take(nullWeight, 5, "src", "dst").isEmpty)
    val strings = pairs(5).withColumn("src", col("src").cast("string"))
    assert(Crossover.take(strings, 5, "src", "dst").isEmpty)
    assert(Crossover.distributed(Crossover.take(pairs(5), 5, "src", "dst"))
      .isEmpty)
  }

  test("fits: inclusive budget, always false in the forced scope") {
    assert(Crossover.fits(10L, 10L) && !Crossover.fits(11L, 10L))
    assert(!Crossover.distributed(Crossover.fits(0L, 10L)))
    // the scope ends with its block
    assert(Crossover.fits(0L, 10L))
  }

  test("forced scope: the probe runs no Spark job") {
    val sc = spark.sparkContext
    val group = s"crossover-spec-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(e.properties.getProperty("spark.job.description"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "forced")
      assert(Crossover.distributed(
        Crossover.take(pairs(5), 5, "src", "dst")).isEmpty)
      sc.setJobDescription("unforced") // control: the listener sees probes
      assert(Crossover.take(pairs(5), 5, "src", "dst").nonEmpty)
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      // the bus delivers in order: once the sentinel shows, every job
      // started before it has been counted
      val t0 = System.nanoTime()
      while (!seen.contains("sentinel") && System.nanoTime() - t0 < 60e9)
        Thread.sleep(20)
      val before = seen.asScala.toSeq.takeWhile(_ != "sentinel")
      assert(seen.contains("sentinel"), "listener never saw the sentinel")
      assert(!before.contains("forced"), s"forced probe ran jobs: $before")
      assert(before.contains("unforced"), s"control probe ran none: $before")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
