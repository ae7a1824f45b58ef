package graft

import graft.functions.Vectors.ShingleHash
import graft.pipeline.{IndexStore, Similarity}
import graft.streaming.IndexStream
import org.apache.spark.sql.functions._

/** Streaming IVF-index maintenance (IndexStream): vectors arriving as
  * micro-batches through maintain() must grow the persisted index to
  * EXACTLY the state of (a) the batch fold of appendBatch calls and
  * (b) the one-shot ivfAppendTopK over base ∪ delta — frozen cells +
  * append-only rows make arrival order irrelevant. Replays are skipped
  * via the in-version batch marker (the CacheStream exactly-once
  * contract).
  */
class IndexStreamSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private def vecs(ids: Seq[Long], seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val all = (0 until 300).map(_ =>
      Seq.fill(8)(rnd.nextInt(2000) / 1000.0 - 1.0))
    ids.map(i => (i, all(i.toInt % 300))).toDF("vec_id", "embedding")
  }

  test("MemoryStream-maintained index == batch fold == direct " +
      "ivfAppendTopK") {
    val baseIds = (100L to 219L)
    val deltaIds = (0L to 29L)
    val base = vecs(baseIds, seed = 3)
    val delta = vecs(deltaIds, seed = 3)
    val queries = vecs(0L to 4L, seed = 3)
    val chunks = deltaIds.grouped(10).toSeq

    // streaming path
    val liveS = tempDir("graft-ivfs").toString + "/ivf"
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 6, liveS)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = IndexStream.maintain(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      liveS)
    try {
      chunks.foreach { c =>
        stream.addData(c.map(i => (i,
          vecs(Seq(i), seed = 3).as[(Long, Seq[Double])].collect().head._2)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // batch-fold path (the stream_ivf_maintain query shape)
    val liveF = tempDir("graft-ivff").toString + "/ivf"
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 6, liveF)
    chunks.foreach(c => IndexStream.appendBatch(
      vecs(c, seed = 3), "vec_id", "embedding", liveF))

    def serve(p: String) = IndexStore.queryIvf(spark, p, queries,
        "vec_id", "embedding", k = 4, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val streamed = serve(liveS)
    val folded = serve(liveF)
    val direct = Similarity.ivfAppendTopK(base, delta, queries,
        "vec_id", "embedding", k = 4, nlist = 6, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    assert(streamed == folded, "stream must equal the batch fold")
    assert(folded == direct, "fold must equal one-shot ivfAppendTopK")
    assert(streamed.nonEmpty)
    // appended vectors are FINDABLE: some query's neighbor is a delta id
    assert(streamed.exists { case (_, nb, _, _) => nb < 30L },
      "appended vectors must appear among neighbors")
  }

  test("compaction-policy maintenance: stream == batch compact(append), " +
      "bit-identically; the compaction publish carries the batch marker " +
      "so a replayed batch is still skipped") {
    val base = vecs(100L to 149L, seed = 7)
    val deltaIds = (0L to 29L)
    val chunks = deltaIds.grouped(10).toSeq
    val queries = vecs(0L to 4L, seed = 7)
    // 80 vectors into 6 cells can never balance exactly (80 % 6 != 0 →
    // max/mean >= ~1.05), so the final step ALWAYS compacts — the final
    // retrain is over the full stored vector set, so intermediate
    // compactions cannot change the end state (kmeansTrain is a pure
    // function of the vector set, not of the cell structure it replaces)
    val policy = IndexStream.CompactionPolicy(maxImbalance = 1.01,
      k = 6, dim = 8, iters = 2)

    // streaming path: compaction runs IN-LINE inside the maintainer
    val liveS = tempDir("graft-ivfsc").toString + "/ivf"
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 6, liveS)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = IndexStream.maintain(
      stream.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      liveS, compaction = Some(policy))
    try {
      chunks.foreach { c =>
        stream.addData(c.map(i => (i,
          vecs(Seq(i), seed = 7).as[(Long, Seq[Double])].collect().head._2)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // batch path: fold the appends, compact once at the end
    val liveB = tempDir("graft-ivfbc").toString + "/ivf"
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 6, liveB)
    chunks.foreach(c => IndexStream.appendBatch(
      vecs(c, seed = 7), "vec_id", "embedding", liveB))
    IndexStore.compactIvf(spark, liveB, k = 6, dim = 8, iters = 2)

    def serve(p: String) = IndexStore.queryIvf(spark, p, queries,
        "vec_id", "embedding", k = 4, nprobe = 3)
      .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val streamed = serve(liveS)
    assert(streamed == serve(liveB),
      "in-line compaction must equal batch compact(append(...)) bit-for-bit")
    assert(streamed.nonEmpty)
    // the stream really compacted (balance restored under the policy)
    assert(IndexStore.ivfImbalance(spark, liveS) ==
      IndexStore.ivfImbalance(spark, liveB))

    // exactly-once across a compaction publish: the LAST published
    // version is a compaction — its marker must still skip a replay
    // (a marker-less compaction would reset the guard and re-append)
    IndexStream.maintainStep(vecs(deltaIds.take(10), seed = 7), 0L,
      "vec_id", "embedding", liveS, Some(policy))
    assert(serve(liveS) == streamed,
      "a replayed batchId at or below the compaction's marker must skip")
  }

  test("MemoryStream-maintained MINHASH index == batch fold == one-shot " +
      "appendMinhash == fresh rebuild") {
    import graft.pipeline.Dedup
    def docsOf(ids: Seq[Long]) = ids.map(i =>
      (i, s"document $i talks about topic ${i % 7} using words " +
        s"w${i % 5} w${i % 3} w${i % 11} and more filler text"))
      .toDF("doc_id", "text")
    val base = docsOf(100L to 139L)
    val deltaIds = 0L to 19L
    val chunks = deltaIds.grouped(7).toSeq
    val probe = docsOf(Seq(300L)).unionByName(Seq(
      (301L, "document 5 talks about topic 5 using words w0 w2 w5 and " +
        "more filler text")).toDF("doc_id", "text"))
    def build(p: String): Unit =
      IndexStore.saveMinhash(base, "doc_id", "text", shingleN = 2, k = 32,
        bands = 8, maxBucketSize = 100, livePath = p,
        hasher = ShingleHash.Md5Portable)
    def serve(p: String) = IndexStore.queryMinhash(spark, p, probe,
        "doc_id", "text", shingleN = 2, k = 32, bands = 8,
        minEstJaccard = 0.3, hasher = ShingleHash.Md5Portable)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    def tmp(t: String) = tempDir(s"graft-$t").toString + "/mh"

    // streaming path
    val liveS = tmp("mhs"); build(liveS)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = IndexStream.maintainMinhash(
      stream.toDS().toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 2, k = 32, bands = 8, maxBucketSize = 100, liveS,
      hasher = ShingleHash.Md5Portable)
    try {
      chunks.foreach { c =>
        stream.addData(c.map(i => (i,
          docsOf(Seq(i)).as[(Long, String)].collect().head._2)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // batch fold / one-shot / rebuild
    val liveF = tmp("mhf"); build(liveF)
    chunks.foreach(c => IndexStore.appendMinhash(docsOf(c), "doc_id",
      "text", shingleN = 2, k = 32, bands = 8, maxBucketSize = 100,
      livePath = liveF, hasher = ShingleHash.Md5Portable))
    val liveO = tmp("mho"); build(liveO)
    IndexStore.appendMinhash(docsOf(deltaIds), "doc_id", "text",
      shingleN = 2, k = 32, bands = 8, maxBucketSize = 100,
      livePath = liveO, hasher = ShingleHash.Md5Portable)
    val liveR = tmp("mhr")
    IndexStore.saveMinhash(base.unionByName(docsOf(deltaIds)), "doc_id",
      "text", shingleN = 2, k = 32, bands = 8, maxBucketSize = 100,
      livePath = liveR, hasher = ShingleHash.Md5Portable)

    val streamed = serve(liveS)
    assert(streamed == serve(liveF), "stream must equal the batch fold")
    assert(streamed == serve(liveO), "fold must equal one-shot append")
    assert(streamed == serve(liveR), "append must equal a fresh rebuild")
    // the near-copy of STREAMED doc 5 must flag against the grown index
    assert(streamed.exists(r => r.head == 301L && r(4) == true),
      s"near-dup of a streamed admission must flag: $streamed")
  }

  test("restart from the checkpoint neither re-appends nor skips") {
    val base = vecs(100L to 179L, seed = 5)
    val live = tempDir("graft-ivfr").toString + "/ivf"
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 4, live)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val s1 = MemoryStream[(Long, Seq[Double])]
    val q1 = IndexStream.maintain(
      s1.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding", live)
    try {
      s1.addData((1L, Seq.fill(8)(0.5)), (2L, Seq.fill(8)(-0.25)))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = IndexStream.maintain(
      s1.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding", live)
    try {
      s1.addData((3L, Seq.fill(8)(0.125)))
      q2.processAllAvailable()
    } finally q2.stop()
    val (_, assigned) = IndexStore.loadIvf(spark, live)
    val deltaRows = assigned.filter(col("neighbor_id") < 100L)
      .select("neighbor_id").as[Long].collect().toSeq.sorted
    assert(deltaRows == Seq(1L, 2L, 3L),
      s"each appended vector must appear exactly once, got $deltaRows")
  }
}
