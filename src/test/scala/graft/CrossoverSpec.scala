package graft

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
    val forced = jobsOf(assert(Crossover.distributed(
      Crossover.take(pairs(5), 5, "src", "dst")).isEmpty))
    assert(forced.isEmpty, s"forced probe ran jobs: $forced")
    // control: the listener sees probes
    val unforced = jobsOf(assert(
      Crossover.take(pairs(5), 5, "src", "dst").nonEmpty))
    assert(unforced.nonEmpty, "control probe ran none")
  }
}
