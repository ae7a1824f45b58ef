package graft

import org.apache.spark.sql.functions._
import graft.operators.{Clustering, Crossover, Pinning}
import graft.pipeline.Similarity

/** The round-pin strategy only decides WHERE iterative state lives
  * (executor-local blocks / reliable checkpoint files / replicated disk
  * persist) — never WHAT it is. These specs prove bit-identical results
  * across all three strategies on the loop operators, so a cluster
  * deployment can flip `spark.graft.checkpoint` to `reliable` (surviving
  * executor loss mid-build, the 100 TB posture) without revalidating
  * semantics.
  */
class PinningSpec extends SparkSpec {
  import spark.implicits._

  private def edgesFixture = Seq(
    // two chains + a cycle + isolated pair: exercises pointer jumping
    (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L),
    (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L))
    .toDF("src", "dst")

  private def vecsFixture = {
    val rnd = new scala.util.Random(7)
    (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 2 - 1).map(_.toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def withStrategy[A](s: String)(body: => A): A = {
    spark.conf.set(Pinning.ConfKey, s)
    try body finally spark.conf.unset(Pinning.ConfKey)
  }

  /** The loop operators under a strategy, forced onto their distributed
    * (pinned-per-round) paths: the fixtures fit every crossover budget,
    * and the driver-local paths pin nothing. */
  private def withStrategyDistributed[A](s: String)(body: => A): A =
    withStrategy(s)(Crossover.distributed(body))

  private val strategies = Seq("local", "reliable", "disk2")

  test("connectedComponents: identical labels under every pin strategy") {
    spark.conf.set(Pinning.DirKey,
      "target/pinning-spec-ckpt") // reliable mode's checkpoint dir
    val got = strategies.map { s =>
      withStrategyDistributed(s) {
        Clustering.connectedComponents(edgesFixture)
          .as[(Long, Long)].collect().toSet
      }
    }
    assert(got.distinct.size == 1, s"strategies disagree: $got")
    assert(got.head.nonEmpty)
    assert(got.head.contains((4L, 1L)) && got.head.contains((12L, 10L)))
  }

  test("pagerankInt + labelPropagate: identical under every pin strategy") {
    val got = strategies.map { s =>
      withStrategyDistributed(s) {
        val pr = Similarity.pagerankInt(edgesFixture, "src", "dst", rounds = 4)
          .as[(Long, Long)].collect().toSet
        val lp = Similarity.labelPropagate(edgesFixture, "src", "dst", rounds = 3)
          .as[(Long, Long)].collect().toSet
        (pr, lp)
      }
    }
    assert(got.distinct.size == 1, "strategies disagree")
    assert(got.head._1.nonEmpty && got.head._2.nonEmpty)
  }

  test("nnDescent to convergence: identical graph under every pin strategy") {
    val got = strategies.map { s =>
      withStrategyDistributed(s) {
        Similarity.nnDescent(vecsFixture, "vec_id", "embedding", k = 3,
            nlist = 4, nprobe = 2, maxRounds = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .as[(Long, Long, Long)].collect().toSet
      }
    }
    assert(got.distinct.size == 1, "strategies disagree")
    assert(got.head.nonEmpty)
  }

  test("prefixFilterPairs (dedup_prefix_join core): identical pairs under " +
      "every pin strategy") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "entirely different words live here today friends"),
      (5L, "the quick brown fox jumps over the lazy dog")) // exact dup of 1
      .toDF("doc_id", "text")
    val got = strategies.map { s =>
      withStrategy(s) {
        graft.pipeline.Dedup.prefixFilterPairs(docs, "doc_id",
            split(col("text"), " "), t = 0.5)
          .select(col("id1"), col("id2"), round(col("jac"), 6))
          .as[(Long, Long, Double)].collect().toSet
      }
    }
    assert(got.distinct.size == 1, s"strategies disagree: $got")
    assert(got.head.contains((1L, 5L, 1.0)))
  }

  test("disk2 pin cuts logical-plan lineage and unpin releases derived " +
      "frames' cache entries") {
    // earlier tests in this suite returned disk2-pinned RESULTS (caller-
    // owned by contract) without unpinning them — clear those so this test
    // asserts only its own lifecycle
    spark.catalog.clearCache()
    withStrategy("disk2") {
      // iterative shape: each round derives from the previous pin. Without
      // the LogicalRDD cut the analyzed plan doubles per round.
      var cur = Pinning.pin(edgesFixture)
      val baseSize = cur.queryExecution.analyzed.treeString.length
      (1 to 4).foreach { _ =>
        val next = Pinning.pin(cur.withColumn("src", col("src") + 1L))
        Pinning.unpin(cur)
        cur = next
      }
      val endSize = cur.queryExecution.analyzed.treeString.length
      assert(endSize <= baseSize * 2,
        s"plan grew across rounds: $baseSize -> $endSize")
      // unpin on a DERIVED frame must still release the backing cache
      // entry (exact-plan Dataset.unpersist would no-op here)
      val derived = cur.select(col("src"))
      Pinning.unpin(derived)
      assert(org.apache.spark.sql.graft.ColumnBridge
        .cacheManagerIsEmpty(spark), "disk2 cache entry leaked past unpin: " +
        org.apache.spark.sql.graft.ColumnBridge.cachedPlanSummaries(spark)
          .mkString("\n"))
    }
  }

  test("unknown strategy fails fast with the conf key in the message") {
    val e = intercept[IllegalArgumentException] {
      withStrategy("bogus") { Pinning.pin(edgesFixture) }
    }
    assert(e.getMessage.contains(Pinning.ConfKey))
  }
}
