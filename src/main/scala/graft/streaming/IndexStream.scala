package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous maintenance of a PERSISTED IVF index
  * ([[graft.pipeline.IndexStore]]) — the streaming form of
  * `sim_ivf_append`'s batch path, closing the ingest loop: vectors
  * arrive as a stream, each micro-batch assigns to the index's FROZEN
  * centroid cells (stateless, no retrain — the `ivfAppendTopK`
  * contract) and the grown assignment publishes under the next
  * versioned pointer, so an ANN reader at any moment sees a complete
  * (old or new) index and never a torn centroid/assignment pair.
  *
  * Exactly-once like [[CacheStream.maintain]]: the applied batchId
  * rides INSIDE each published version ([[CacheStream.BatchMarker]],
  * one pointer rename covers data + marker), replayed batchIds are
  * skipped, and the query always runs with a checkpointLocation.
  *
  * Scale shape: a micro-batch pays its own assignment (one narrow
  * fused-kernel pass over batch rows against the broadcast centroid
  * array) plus the rewrite of the assigned table. At 100 TB the
  * assigned table would be PARTITIONED by list_id and the union write
  * appends only touched partitions (dynamic partition overwrite); the
  * merge algebra — frozen cells, append-only rows — is unchanged.
  * IndexStreamSpec pins stream ≡ batch-fold ≡ direct ivfAppendTopK.
  */
object IndexStream {

  /** One append step, shared by the stream and the batch fold (the
    * `stream_ivf_maintain` CORRECTNESS query replays exactly this): load
    * the live (centroids, assigned) pair, assign `batch` to the frozen
    * cells, publish centroids + base∪delta assignment atomically. The
    * merged plan reads the CURRENT version while the write targets the
    * NEXT — the pointer flips last, so the self-read is race-free.
    */
  def appendBatch(batch: DataFrame, id: String, vec: String,
      livePath: String, marker: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val (centroids, assigned) =
      graft.pipeline.IndexStore.loadIvf(spark, livePath)
    val merged = assigned.unionByName(
      graft.pipeline.Similarity.ivfAssign(centroids, batch, id, vec))
    graft.operators.CacheRefresh.publishVersioned(spark, livePath,
        marker = marker) { dir =>
      centroids.repartition(1).write.mode("overwrite")
        .parquet(s"$dir/centroids")
      merged.write.mode("overwrite").parquet(s"$dir/assigned")
    }
  }

  /** When to retrain inside the maintenance loop: compact whenever
    * [[graft.pipeline.IndexStore.ivfImbalance]] exceeds `maxImbalance`
    * after an append. (k, dim, iters) are the retrain's k-means
    * parameters — k should match the base build's nlist.
    */
  final case class CompactionPolicy(maxImbalance: Double, k: Int,
    dim: Int, iters: Int)

  /** One maintenance step — the exact foreachBatch body, shared with
    * the batch-fold replay (`stream_ivf_compact` runs precisely this):
    * skip if the live version already folded `batchId` in, else append
    * to the frozen cells and, under a [[CompactionPolicy]], retrain if
    * the append drifted the cell balance past the threshold. BOTH
    * publishes carry the batchId marker (a marker-less compaction
    * version after a marked append would reset the replay guard and a
    * redelivered batch would re-append — the exactly-once hole r12's
    * VERDICT #3 called out as "degrades probe recall forever" when the
    * alternative was no compaction at all).
    */
  def maintainStep(batch: DataFrame, batchId: Long, id: String,
      vec: String, livePath: String,
      compaction: Option[CompactionPolicy] = None): Unit = {
    val spark = batch.sparkSession
    val live = graft.operators.CacheRefresh.resolveLive(spark, livePath)
    val alreadyApplied = live != livePath && CacheStream.readAppliedBatchIn(
      spark.sparkContext.hadoopConfiguration, live).exists(_ >= batchId)
    if (!alreadyApplied) {
      appendBatch(batch, id, vec, livePath, marker = Some(batchId))
      compaction.foreach(p => graft.pipeline.IndexStore.compactIfSkewed(
        spark, livePath, p.maxImbalance, p.k, p.dim, p.iters,
        marker = Some(batchId)))
    }
  }

  /** Stream driver: `vectors` (id, vec) micro-batches append into the
    * index at `livePath` (which must already hold a base index published
    * by [[graft.pipeline.IndexStore.saveIvf]] — the frozen cell
    * structure). Same batchId-lineage contract as CacheStream.maintain.
    * With a [[CompactionPolicy]], the maintainer also closes the
    * lifecycle loop: a long-running ingest stream whose appends skew the
    * frozen cells retrains in-line instead of degrading probe recall
    * forever (IndexStreamSpec pins stream-with-compaction ≡ batch
    * compact(append(...)) bit-identically).
    */
  def maintain(vectors: DataFrame, id: String, vec: String,
      livePath: String,
      checkpointLocation: Option[String] = None,
      compaction: Option[CompactionPolicy] = None): StreamingQuery = {
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        checkpointLocation.getOrElse(livePath + ".checkpoint"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainStep(batch, batchId, id, vec, livePath, compaction)
      }
      .start()
  }

  /** Continuous maintenance of the persisted MINHASH near-dup index —
    * the [[maintain]] twin for [[graft.pipeline.IndexStore.appendMinhash]]:
    * each micro-batch of admitted documents grows the signature table
    * (paying only its own shingle+minhash) and the re-banded bucket
    * table publishes atomically with the exactly-once batch marker.
    * Signatures union as a SET and buckets re-derive from the full
    * membership, so arrival order is irrelevant — stream fold ≡ batch
    * fold ≡ one-shot append ≡ fresh rebuild (IndexStreamSpec pins it;
    * the stream_minhash_maintain CORRECTNESS row replays the fold).
    */
  def maintainMinhash(docs: DataFrame, id: String, text: String,
      shingleN: Int, k: Int, bands: Int, maxBucketSize: Int,
      livePath: String,
      hasher: graft.functions.Vectors.ShingleHash =
        graft.functions.Vectors.ShingleHash.XxHash64,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val spark = docs.sparkSession
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        checkpointLocation.getOrElse(livePath + ".checkpoint"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val live = graft.operators.CacheRefresh.resolveLive(spark, livePath)
        val alreadyApplied = live != livePath &&
          CacheStream.readAppliedBatchIn(
            spark.sparkContext.hadoopConfiguration, live)
            .exists(_ >= batchId)
        if (!alreadyApplied)
          graft.pipeline.IndexStore.appendMinhash(batch, id, text,
            shingleN, k, bands, maxBucketSize, livePath, hasher,
            marker = Some(batchId))
        ()
      }
      .start()
  }
}
