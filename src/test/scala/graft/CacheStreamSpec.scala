package graft

import graft.streaming.CacheStream
import org.apache.spark.sql.functions._

/** §7.1(7) — the streaming scheme-field cache refresh: a MemoryStream of
  * designation rows driven through CacheStream.maintain (foreachBatch
  * MERGE + versioned-snapshot publish) must converge to exactly the
  * batch fold (the cache_stream_merge query shape) and the full rebuild,
  * and every intermediate published snapshot must be a complete additive
  * prefix — the reference's trigger-maintained cache invariant under the
  * rename-swap atomicity property (update_scheme_caches.pl incremental
  * mode, Datastore.pm:2165-2172).
  */
class CacheStreamSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import spark.implicits._

  private def agg(d: org.apache.spark.sql.DataFrame) =
    d.groupBy(col("iso"))
      .agg(count(lit(1)).as("n"), sum(col("len").cast("long")).as("total"))

  test("MemoryStream-driven foreachBatch MERGE converges to the batch " +
      "fold and the full rebuild") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq((1L, 10L), (1L, 20L), (2L, 5L))
    val b2 = Seq((2L, 7L), (3L, 1L))
    val b3 = Seq((1L, 2L), (3L, 4L), (3L, 8L))
    val live = tempDir("graft-cstream")
      .toString + "/cache"

    val stream = MemoryStream[(Long, Long)]
    val q = CacheStream.maintain(
      stream.toDS().toDF("iso", "len"), "iso", agg, live)
    try {
      Seq(b1, b2, b3).foreach { b =>
        stream.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = graft.sources.Federation.readDimension(spark, live)
    // batch fold of the same chunks (the cache_stream_merge shape)
    val folded = Seq(b1, b2, b3)
      .map(b => agg(b.toDF("iso", "len")))
      .reduce(CacheStream.mergeAdditive(_, _, "iso"))
    // full rebuild (the oracle shape)
    val full = agg((b1 ++ b2 ++ b3).toDF("iso", "len"))

    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("iso").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rowsOf(streamed) == rowsOf(full),
      "stream must converge to the full rebuild")
    assert(rowsOf(folded) == rowsOf(full),
      "batch fold must equal the full rebuild")
  }

  test("restart from the checkpoint continues exactly-once (no double " +
      "count, no skip)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val live = tempDir("graft-cstream3")
      .toString + "/cache"
    val b1 = Seq((1L, 10L), (2L, 5L))
    val b2 = Seq((1L, 2L), (3L, 4L))
    val stream = MemoryStream[(Long, Long)]
    val q1 = CacheStream.maintain(
      stream.toDS().toDF("iso", "len"), "iso", agg, live)
    try { stream.addData(b1: _*); q1.processAllAvailable() }
    finally q1.stop()
    // restart against the SAME checkpoint: batchIds continue, the marker
    // in the published version gates replays, and new data folds in once
    val q2 = CacheStream.maintain(
      stream.toDS().toDF("iso", "len"), "iso", agg, live)
    try { stream.addData(b2: _*); q2.processAllAvailable() }
    finally q2.stop()
    val got = graft.sources.Federation.readDimension(spark, live)
      .orderBy("iso").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = agg((b1 ++ b2).toDF("iso", "len"))
      .orderBy("iso").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want,
      "restarted stream must equal the full rebuild — a replayed or " +
        "skipped batch would break this")
  }

  test("a FRESH checkpoint lineage against a maintained livePath is " +
      "conservatively skipped (batchId restarts below the marker)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft-cstream4")
      .toString
    val live = base + "/cache"
    val s1 = MemoryStream[(Long, Long)]
    val q1 = CacheStream.maintain(
      s1.toDS().toDF("iso", "len"), "iso", agg, live)
    try {
      // two batches → marker = 1 in the published version
      s1.addData((1L, 10L)); q1.processAllAvailable()
      s1.addData((2L, 5L)); q1.processAllAvailable()
    } finally q1.stop()
    val before = graft.sources.Federation.readDimension(spark, live)
      .orderBy("iso").collect().toSeq
    // new lineage, ids restart at 0: its batches 0 and 1 must NOT merge
    // (they are indistinguishable from replays) — the documented
    // new-lineage-needs-new-livePath contract, enforced conservatively
    val s2 = MemoryStream[(Long, Long)]
    val q2 = CacheStream.maintain(
      s2.toDS().toDF("iso", "len"), "iso", agg, live,
      checkpointLocation = Some(base + "/fresh_ckpt"))
    try {
      s2.addData((9L, 99L)); q2.processAllAvailable()
      s2.addData((9L, 1L)); q2.processAllAvailable()
    } finally q2.stop()
    val after = graft.sources.Federation.readDimension(spark, live)
      .orderBy("iso").collect().toSeq
    assert(after == before,
      "fresh-lineage batches at or below the marker must be skipped, " +
        "not double-merged")
  }

  test("mergeAdditive: key-only cache fails loudly; column order may " +
      "differ between cache and updates") {
    val cache = Seq((1L, 2L, 3L)).toDF("iso", "n", "total")
    val updatesSwapped = Seq((1L, 30L, 20L)).toDF("iso", "total", "n")
    val merged = CacheStream.mergeAdditive(cache, updatesSwapped, "iso")
      .collect().head
    // unionByName must align by NAME: n = 2+20, total = 3+30
    assert(merged.getAs[Long]("n") == 22L &&
      merged.getAs[Long]("total") == 33L)
    val keyOnly = Seq(Tuple1(1L)).toDF("iso")
    val e = intercept[IllegalArgumentException] {
      CacheStream.mergeAdditive(keyOnly, keyOnly, "iso")
    }
    assert(e.getMessage.contains("no additive columns"))
  }

  test("each published snapshot is the complete additive prefix of the " +
      "stream (never partial)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = Seq(
      Seq((1L, 3L), (2L, 4L)),
      Seq((1L, 5L)),
      Seq((2L, 6L), (3L, 7L)))
    val live = tempDir("graft-cstream2")
      .toString + "/cache"
    val stream = MemoryStream[(Long, Long)]
    val q = CacheStream.maintain(
      stream.toDS().toDF("iso", "len"), "iso", agg, live)
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        stream.addData(b: _*); q.processAllAvailable()
        val snap = graft.sources.Federation.readDimension(spark, live)
        val prefix = agg(batches.take(i + 1).flatten.toDF("iso", "len"))
        assert(snap.exceptAll(prefix).isEmpty &&
          prefix.exceptAll(snap).isEmpty,
          s"snapshot after batch $i must equal the prefix rebuild")
      }
    } finally q.stop()
  }
}
