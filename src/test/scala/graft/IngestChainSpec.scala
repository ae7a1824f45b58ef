package graft

import graft.functions.Vectors.ShingleHash
import graft.pipeline.{Dedup, IndexStore, Similarity}
import graft.streaming.StreamDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed ingest gate (ingest_e2e's chain) processed as an
  * arrival-ordered STREAM of micro-batches must equal the one-shot batch
  * run — the whole-chain form of the stream ≡ batch discipline
  * (CacheStreamSpec pins it for the additive cache; this pins it for
  * first-seen dedup → persisted-index near-dup gate → IVF append → ANN):
  *
  *  - first-seen state folds associatively (min arrival per content key,
  *    counts sum), so a key's survivor is FINAL the moment it first
  *    appears — later copies only bump n_dups;
  *  - the near-dup gate is a pure per-doc function of the STATIC
  *    persisted index, so gating a doc at arrival time or at the end is
  *    the same verdict;
  *  - IVF append freezes the base centroid sample, so the merged index
  *    is the same whichever order the admitted vectors arrived.
  */
class IngestChainSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  // base corpus: 20 docs with distinctive 2-gram content
  private def baseDocs = (100L to 119L).map(i =>
    (i, s"base document number $i with steady wording pattern " +
      s"alpha${i % 5} beta${i % 3} gamma delta epsilon"))
    .toDF("doc_id", "text")

  // ingest batch: novel docs, one exact-dup pair inside the batch, and
  // near-dup copies of base docs (verbatim text → est 1.0 at the gate)
  private def deltaDocs = Seq(
    (1L, "a genuinely novel document about distributed query engines"),
    (2L, "another novel piece on vector search and recall"),
    (3L, "a genuinely novel document about distributed query engines"),
    (4L, "base document number 105 with steady wording pattern " +
      "alpha0 beta0 gamma delta epsilon"),
    (5L, "totally fresh content with its own unique vocabulary here"),
    (6L, "another novel piece on vector search and recall"),
    (7L, "base document number 111 with steady wording pattern " +
      "alpha1 beta0 gamma delta epsilon"),
    (8L, "late unique arrival talking about something else entirely"))
    .toDF("doc_id", "text")

  private def vecFor(id: Long): Seq[Float] =
    (0 until 8).map(c => (((id * 31 + c * 7) % 13) - 6).toFloat / 6.0f)

  private def embeddings = ((1L to 8L) ++ (100L to 119L)).map(i =>
    (i, vecFor(i))).toDF("vec_id", "embedding")

  private def annOver(admitted: DataFrame): Seq[(Long, Long, Long, Double)] = {
    val emb = embeddings
    val admVecs = emb
      .join(admitted.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val baseVecs = emb.filter(col("vec_id") >= 100L)
    Similarity.ivfAppendTopK(baseVecs, admVecs, admVecs,
        "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2)
      .join(admitted, col("query_id") === col("doc_id"))
      .select(col("doc_id"), col("n_dups"), col("neighbor_id"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
  }

  test("arrival-ordered micro-batches == one-shot batch for the full " +
      "ingest chain") {
    val live = tempDir("graft-ingest")
      .toString + "/mh"
    IndexStore.saveMinhash(baseDocs, "doc_id", "text",
      shingleN = 2, k = 64, bands = 16, maxBucketSize = 1000,
      livePath = live, hasher = ShingleHash.Md5Portable)

    // ---- batch path (the ingest_e2e shape) ----
    val delta = deltaDocs
    val fs = StreamDedup.firstSeenByContent(
      delta.withColumn("arrival", col("doc_id")),
      Seq(col("text")), "arrival", "doc_id")
    val surv = fs.select(col("first_id").as("doc_id"), col("n_dups"))
    val verdicts = IndexStore.queryMinhash(spark, live,
      delta.join(surv.select("doc_id"), Seq("doc_id")),
      "doc_id", "text", shingleN = 2, k = 64, bands = 16,
      minEstJaccard = 0.1, hasher = ShingleHash.Md5Portable)
    val admittedBatch = verdicts.filter(!col("is_dup"))
      .select(col("doc_id")).join(surv, Seq("doc_id"))
    val batchOut = annOver(admittedBatch)

    // the fixture exercises every branch: an in-batch exact dup dropped,
    // near-dups of base rejected at the gate, novel docs admitted
    val admIds = admittedBatch.select("doc_id").as[Long].collect().toSet
    assert(admIds == Set(1L, 2L, 5L, 8L), s"unexpected admit set $admIds")

    // ---- stream path: 3 arrival-ordered micro-batches ----
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val chunks = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(7L, 8L))
    val rowsById = deltaDocs.as[(Long, String)].collect().toMap
    val seen = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val admitted = scala.collection.mutable.Map.empty[Long, Unit]
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDS().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        // stage-1 fold: batch-local first-seen merged into running state
        val bfs = StreamDedup.firstSeenByContent(
            b.withColumn("arrival", col("doc_id")),
            Seq(col("text")), "arrival", "doc_id")
          .select(col("content_key"), col("first_id"), col("n_dups"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val fresh = bfs.filter { case (k, _, _) => !seen.contains(k) }
        bfs.foreach { case (k, first, n) =>
          seen.get(k) match {
            case Some((f0, n0)) => seen(k) = (f0, n0 + n)
            case None => seen(k) = (first, n)
          }
        }
        // stage-2 gate, incrementally, only on this batch's NEW keys
        if (fresh.nonEmpty) {
          val freshDf = fresh.toSeq.map { case (_, id, _) =>
            (id, rowsById(id)) }.toDF("doc_id", "text")
          val v = IndexStore.queryMinhash(spark, live, freshDf,
            "doc_id", "text", shingleN = 2, k = 64, bands = 16,
            minEstJaccard = 0.1, hasher = ShingleHash.Md5Portable)
          v.filter(!col("is_dup")).select("doc_id").as[Long].collect()
            .foreach(admitted(_) = ())
        }
        ()
      }
      .start()
    try {
      chunks.foreach { c =>
        stream.addData(c.map(id => (id, rowsById(id))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val admittedStream = seen.values.toSeq
      .filter { case (id, _) => admitted.contains(id) }
      .map { case (id, n) => (id, n) }
      .toDF("doc_id", "n_dups")
    val streamOut = annOver(admittedStream)
    assert(streamOut == batchOut,
      s"stream fold diverged from batch:\n$streamOut\nvs\n$batchOut")
    assert(streamOut.nonEmpty)
  }
}
