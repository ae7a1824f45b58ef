package graft

import graft.operators.{CacheRefresh, Skew}
import graft.pipeline.Dedup
import graft.streaming.IncrementalWarehouse
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Salted skew joins, cache refresh modes, streaming dedup. */
class SkewCacheSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join (hot key spread over reducers)") {
    // one hot key (0) with 1000 rows + a long tail
    val large = ((1 to 1000).map(i => (0L, i)) ++ (1 to 50).map(i => (i.toLong, i)))
      .toDF("k", "v")
    val small = Seq((0L, "hot"), (7L, "seven"), (99L, "absent-in-large"))
      .toDF("k", "name")
    val plain = large.join(small, Seq("k")).select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(large, small, "k", factor = 8)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.size == 1001)
  }

  test("saltedJoin rejects small-side-duplicating join types") {
    val large = Seq((1L, 1)).toDF("k", "v")
    val small = Seq((1L, "x")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(large, small, "k", factor = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(large, small, "k", factor = 4, joinType = "full_outer")
    }
  }

  test("saltedCount equals groupBy count") {
    val df = ((1 to 500).map(_ => "hot") ++ Seq("a", "b", "b")).toDF("k")
    val got = Skew.saltedCount(df, "k", factor = 4)
      .as[(String, Long)].collect().toMap
    assert(got == Map("hot" -> 500L, "a" -> 1L, "b" -> 2L))
  }

  test("skew-guarded similarityJoin equals the plain join on a hot-key corpus") {
    import graft.operators.Profiles
    // 40 profiles, locus 1 = the SAME allele everywhere (a universal hot
    // key: 40² candidate pairs through one bucket unguarded), loci 2-4
    // varied
    val wh = (1L to 40L).map(i =>
      (i, Seq("9", (i % 4).toString, (i % 3 + 1).toString, (i % 5).toString)))
      .toDF("iso", "profile")
    def run(cap: Int) =
      Profiles.similarityJoin(wh, "iso", 2, cap)
        .as[(Long, Long, Long)].collect().toSet
    val plain = run(Int.MaxValue) // nothing hot: original single-path plan
    val guarded = run(4)          // forces blocking: nb = ceil(40/4) = 10
    assert(plain == guarded)
    assert(plain.nonEmpty)
    // at minShared=1 with EVERY key hot, the universal locus-1 allele must
    // still connect all 40·39/2 pairs exactly once
    val all = Profiles.similarityJoin(wh, "iso", 1, 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(all.size == 40 * 39 / 2)
  }

  test("upsert: updates replace matching keys, others carry over") {
    val current = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1)).toDF("id", "v", "ver")
    val updates = Seq((2L, "B", 2), (4L, "d", 2)).toDF("id", "v", "ver")
    val merged = CacheRefresh.upsert(current, updates, "id")
      .as[(Long, String, Int)].collect().toSet
    assert(merged == Set((1L, "a", 1), (2L, "B", 2), (3L, "c", 1), (4L, "d", 2)))
  }

  test("daily/daily_replace policy matrix vs full and incremental") {
    import org.apache.spark.sql.functions.{col, lit}
    // fresh view: ids 1-6; 4-6 were updated "today" (d2). The stale cache
    // predates today's edits: ids 1-3 current, id 4 cached with a STALE
    // value, ids 5-6 not cached yet.
    val fresh = Seq(
      (1L, "d1", "a2"), (2L, "d1", "b2"), (3L, "d1", "c2"),
      (4L, "d2", "D2"), (5L, "d2", "E2"), (6L, "d2", "F2"))
      .toDF("id", "ds", "v")
    val stale = Seq(
      (1L, "d1", "a2"), (2L, "d1", "b2"), (3L, "d1", "c2"),
      (4L, "d1", "D1")).toDF("id", "ds", "v")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, String)].collect().toSet
    // daily: append today's UNCACHED ids only; id 4 keeps its stale row
    assert(rowsOf(CacheRefresh.dailyAdd(stale, fresh, "id", "ds", lit("d2")))
      == Set((1L, "d1", "a2"), (2L, "d1", "b2"), (3L, "d1", "c2"),
             (4L, "d1", "D1"), (5L, "d2", "E2"), (6L, "d2", "F2")))
    // daily_replace: id 4's stale row is corrected too
    assert(rowsOf(CacheRefresh.dailyReplace(stale, fresh, "id", "ds", lit("d2")))
      == Set((1L, "d1", "a2"), (2L, "d1", "b2"), (3L, "d1", "c2"),
             (4L, "d2", "D2"), (5L, "d2", "E2"), (6L, "d2", "F2")))
    // incremental (upsert with recomputed changed ids) and full both
    // equal the fresh view here — daily_replace converges to them on a
    // corpus where only today's rows changed, daily does not (id 4)
    val changed = fresh.filter(col("ds") === "d2")
    assert(rowsOf(CacheRefresh.upsert(stale, changed, "id")) == rowsOf(fresh))
    assert(rowsOf(CacheRefresh.dailyReplace(stale, fresh, "id", "ds", lit("d2")))
      == rowsOf(fresh))
  }

  test("fullSwap: readers see complete snapshots across refreshes") {
    val dir = tempDir("graft-swap").toString + "/cache"
    CacheRefresh.fullSwap(Seq((1, "v1")).toDF("id", "v"), dir)
    val live1 = CacheRefresh.resolveLive(spark, dir)
    assert(spark.read.parquet(live1).as[(Int, String)].collect().toSeq == Seq((1, "v1")))
    CacheRefresh.fullSwap(Seq((1, "v2"), (2, "v2")).toDF("id", "v"), dir)
    val live2 = CacheRefresh.resolveLive(spark, dir)
    assert(live2 != live1, "pointer must move to a fresh versioned dir")
    val after = spark.read.parquet(live2).as[(Int, String)].collect().toSet
    assert(after == Set((1, "v2"), (2, "v2")))
    // N-1 stays alive for in-flight readers that resolved just before the
    // swap; it is pruned one refresh cycle later (minRetainMs = 0 disables
    // the storm grace so the cycle-based pruning itself is what's tested)
    assert(new java.io.File(live1).exists)
    CacheRefresh.fullSwap(Seq((1, "v3")).toDF("id", "v"), dir,
      minRetainMs = 0L)
    assert(!new java.io.File(live1).exists, "v1 pruned after the next cycle")
    assert(new java.io.File(live2).exists, "v2 is now the N-1 survivor")
  }

  test("streamingExact dedup emits each distinct content once across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val docs = stream.toDS().toDF("doc_id", "ts", "text")
    val q = Dedup.streamingExact(docs, "doc_id", "text", "ts", "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try {
      stream.addData((1L, ts, "same"), (2L, ts, "same"), (3L, ts, "other"))
      q.processAllAvailable()
      stream.addData((4L, ts, "same"), (5L, ts, "third"))
      q.processAllAvailable()
      val out = spark.table("dedup_stream").select("doc_id")
        .as[Long].collect().toSet
      // one winner for "same" (2 never emits, 4 suppressed cross-batch)
      assert(out.intersect(Set(1L, 2L, 4L)).size == 1)
      assert(out.contains(3L) && out.contains(5L))
    } finally q.stop()
  }
}
