package graft

import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** Co-bucketed join layout (SURVEY §2.3 hot path): both sides written
  * bucketed+sorted on the join key must join WITHOUT a shuffle — the whole
  * point of the layout at 100 TB, where re-shuffling the designation fact
  * per interactive query is the dominant cost.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("co-bucketed tables join with zero Exchange and correct rows") {
    Bucketing.materialize(
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
      "graft_test_bkt_li", "l_orderkey", 4)
    Bucketing.materialize(
      Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
      "graft_test_bkt_ord", "o_orderkey", 4)
    val li = Bucketing.read(spark, "graft_test_bkt_li")
    val ords = Bucketing.read(spark, "graft_test_bkt_ord")
    // merge hint: at fixture scale Catalyst would broadcast the dim and
    // mask the property under test — at 100 TB both sides are fact-sized
    // and SMJ is the strategy, so pin SMJ and assert the shuffle is gone
    val joined = li.hint("merge").join(ords, li("l_orderkey") === ords("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"co-bucketed join must not shuffle:\n$plan")
    // values identical to the plain (shuffled) join
    val got = joined.groupBy(col("o_orderpriority")).count()
      .as[(String, Long)].collect().toMap
    val want = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).count()
      .as[(String, Long)].collect().toMap
    assert(got == want)
  }

  test("partitioned layout: scan prunes to the filtered partition's files") {
    // the other storage-layout lever next to bucketing: directory
    // partitioning by a coarse column → a filter on it never opens the
    // other partitions' files at all (PartitionFilters, not PushedFilters)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val path = tempDir("part-docs").toString + "/docs"
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    val langs = docs.select(col("lang")).distinct().as[String].collect()
    assert(langs.length > 1, "fixture must have several languages")
    val filtered = spark.read.parquet(path).filter(col("lang") === langs.head)
    // the filter must land in PartitionFilters (directory pruning: the
    // other partitions' files are never opened), NOT as a data filter
    // (inputFiles lists the pre-pruning relation, so the plan is the proof)
    val plan = filtered.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains(s"= ${langs.head}"), s"filter not pruned:\n$pf")
    // values survive the layout roundtrip
    assert(filtered.count() ==
      docs.filter(col("lang") === langs.head).count())
  }

  test("bucketed write produces one file per bucket (sort elision ready)") {
    Bucketing.materialize(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"),
      "graft_test_bkt_small", "k", 2)
    val files = spark.table("graft_test_bkt_small").inputFiles
    assert(files.length == 2, files.mkString(", "))
  }

  test("zOrderKey matches a bit-interleave reference and orders locally") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(b =>
        (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).sum
    val rnd = new scala.util.Random(41)
    val pts = Seq.fill(200)((rnd.nextInt(512).toLong, rnd.nextInt(512).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.functions.Geo.zOrderKey(col("x"), col("y"), 9).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == ref(x, y, 9), s"($x,$y)") }
    // known interleavings: (1,0)->1, (0,1)->2, (3,3)->15, (4,0)->16
    assert(ref(1, 0, 9) == 1 && ref(0, 1, 9) == 2 &&
      ref(3, 3, 9) == 15 && ref(4, 0, 9) == 16)
    // locality: points in the same 2x2 block share z div 4
    assert((0 until 2).forall(dx => (0 until 2).forall(dy =>
      ref(6L + dx, 2L + dy, 9) / 4 == ref(6L, 2L, 9) / 4)))
  }
}
