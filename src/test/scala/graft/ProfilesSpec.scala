package graft

import java.nio.file.{Files, Paths}

import graft.operators.Profiles
import graft.queries.ProfileQueries
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** Scheme/profile engine semantics (SURVEY §2.3 J6-J8, §4.2 sentinel traps:
  * "0" missing only matches "0"; "N" matches anything; multiple designations
  * per locus resolve deterministically).
  */
class ProfilesSpec extends SparkSpec {
  import spark.implicits._

  // designation fact: (entity, locus, allele); entity 10 has a duplicate
  // designation at locus 1 and a missing locus 3.
  private lazy val fact = Seq(
    (10, 1, "7"), (10, 1, "2"), (10, 2, "5"),
    (20, 1, "2"), (20, 2, "5"), (20, 3, "9"),
    (30, 1, "2"), (30, 2, "N"), (30, 3, "9"))
    .toDF("iso", "locus", "allele")

  private lazy val wh = Profiles.warehouse(fact, "iso", "locus", col("allele"), 3)

  test("warehouse: dense array, min-allele resolution, '0' for missing") {
    val m = wh.select(col("iso"), col("profile")).as[(Int, Seq[String])]
      .collect().toMap
    assert(m(10) == Seq("2", "5", "0")) // min("7","2")="2"; locus 3 missing -> "0"
    assert(m(20) == Seq("2", "5", "9"))
    assert(m(30) == Seq("2", "N", "9"))
  }

  test("warehouse md5 equals md5 of comma-joined profile") {
    val r = wh.filter(col("iso") === 20)
      .select(col("profile_md5"),
        md5(lit("2,5,9")).as("expect")).collect().head
    assert(r.getString(0) == r.getString(1))
  }

  test("profileDiff ignores N positions (sql/seqdef.sql:1380-1384)") {
    val d = spark.range(1).select(
      Profiles.profileDiff(
        typedLit(Seq("1", "2", "N", "4")),
        typedLit(Seq("1", "9", "7", "N"))).as("d"))
    assert(rows(d).head.head == 1) // only position 2 differs; N positions skipped
  }

  test("sharedCount: N matches anything, 0 only matches 0") {
    val d = spark.range(1).select(
      Profiles.sharedCount(
        typedLit(Seq("1", "0", "N")),
        typedLit(Seq("1", "2", "7"))).as("s"),
      Profiles.sharedCount(
        typedLit(Seq("0", "0", "0")),
        typedLit(Seq("0", "1", "2"))).as("z"))
    assert(rows(d).head == Seq(2, 1)) // [1=1, 0!=2, N matches]; [0=0 only]
  }

  test("matchingProfiles thresholds on shared count (J8)") {
    val hits = Profiles.matchingProfiles(wh, Seq("2", "5", "9"), 3, 1)
      .select("iso").as[Int].collect().toSeq.sorted
    // iso20 shares 3, iso10 shares 2 (>=2), iso30 shares 3 (N wildcard at locus 2)
    assert(hits == Seq(10, 20, 30))
    val exact = Profiles.matchingProfiles(wh, Seq("2", "5", "9"), 3, 0)
      .select("iso").as[Int].collect().toSeq.sorted
    assert(exact == Seq(20, 30))
  }

  test("similarityJoin equals brute-force shared counts, missing excluded") {
    val pairs = Profiles.similarityJoin(wh, "iso", 1)
      .select(col("e1"), col("e2"), col("shared"))
      .as[(Int, Int, Long)].collect().toSet
    // exact-equality joins: N does NOT wildcard here (explode form), "0" dropped
    assert(pairs == Set((10, 20, 2L), (10, 30, 1L), (20, 30, 2L)))
  }

  test("lookupByDesignations: positional IN with N-wildcard rows (J6)") {
    val got = Profiles.lookupByDesignations(wh, Map(1 -> Seq("2"), 2 -> Seq("5")))
      .select("iso").as[Int].collect().toSeq.sorted
    assert(got == Seq(10, 20, 30)) // iso30 matches via profile[2]="N"
    val strict = Profiles.lookupByDesignations(wh, Map(2 -> Seq("5")))
      .select("iso").as[Int].collect().toSeq.sorted
    assert(strict == Seq(10, 20, 30))
    val none = Profiles.lookupByDesignations(wh, Map(3 -> Seq("4")))
      .select("iso").as[Int].collect().toSeq
    assert(none.isEmpty)
  }

  private val corpus = "/root/testdata/sf0.001"

  test("an isolate-slice warehouse equals the full warehouse filtered, " +
      "bit for bit") {
    val full = ProfileQueries.wh(spark, corpus)
    val minId = full.agg(min(col("l_orderkey"))).head().getAs[Number](0).intValue
    for (n <- Seq(40, 150, 300, minId)) {
      def sorted(df: org.apache.spark.sql.DataFrame) = rows(
        df.select(col("l_orderkey"), col("profile"), col("profile_md5"))
          .orderBy(col("l_orderkey")))
      val slice = sorted(ProfileQueries.wh(spark, corpus, Some(n)))
      assert(slice == sorted(full.filter(col("l_orderkey") < n)), s"bound $n")
      assert(slice.isEmpty == (n == minId), s"bound $n")
    }
  }

  test("bounded-taxa queries build their isolate slices, never the full " +
      "warehouse") {
    // a private copy of the corpus: no other suite of the shared session
    // holds memo entries under its path
    val tmp = tempDir("profiles-slices")
    try {
      Files.copy(Paths.get(s"$corpus/lineitem.parquet"),
        tmp.resolve("lineitem.parquet"))
      val dir = tmp.toString
      val byName = queries.AllQueries.modules.flatMap(_.qs)
        .map(q => q.name -> q).toMap
      Seq("g3_single_linkage", "g2_burst", "g4_lincode_prim",
        "s10_replicate_lincodes", "g4_lincode", "j5_lincode_prefix",
        "lin_prefix_tree", "g5_nexus_roundtrip", "g1_distance_matrix",
        "j7_profile_diff").foreach(q => byName(q).fn(spark, dir).collect())
      def entries(prefix: String) =
        SessionMemo.countPrefix(spark, "profiles.warehouse", prefix)
      assert(entries(s"$dir/full") == 0)
      assert(Seq(40, 150, 300).map(n => entries(s"$dir/lt$n")) == Seq(1, 1, 1))
      assert(entries(s"$dir/") == 3)
    } finally FileUtils.deleteQuietly(tmp.toFile)
  }
}
