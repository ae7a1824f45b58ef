package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** SURVEY §7.1(7) — the reference's cron-driven scheme-field cache
  * refresh (update_scheme_caches.pl `incremental` mode: query new
  * designations since the last run, MERGE them into the cache table,
  * rename-swap) re-expressed as Structured Streaming: new designation
  * rows arrive as a stream, each micro-batch MERGEs into the published
  * cache snapshot via the same versioned-pointer swap the batch
  * federation path uses ([[graft.operators.CacheRefresh.fullSwap]]), so
  * a reader NEVER sees a half-refreshed cache — the Datastore.pm
  * atomicity property, continuously.
  *
  * The cache payload here is the ADDITIVE aggregate family (counts,
  * sums — the seqbin_stats/scheme-field-cache shape): merging a batch is
  * `union(current, batch-agg) → re-aggregate`, which is exact in any
  * arrival order, so the stream provably converges to the full batch
  * rebuild — CacheStreamSpec pins stream ≡ batch-fold ≡ full rebuild
  * row-for-row, and the `cache_stream_merge` CORRECTNESS query replays
  * the same fold against the full-rebuild DuckDB oracle.
  *
  * Scale shape: each micro-batch shuffles (batch rows + one row per
  * cached entity) through one map-side-combinable aggregation. At 100 TB
  * the cache side would be partition-pruned to the entities present in
  * the batch (the MERGE touches only changed keys); the additive algebra
  * is unchanged.
  */
object CacheStream {

  /** One MERGE step: fold a batch of per-entity aggregate rows into the
    * running cache. Both inputs carry (key, aggCols...) with the SAME
    * additive schema; missing entities on either side contribute their
    * identity (SUM over the union).
    */
  def mergeAdditive(cache: DataFrame, updates: DataFrame,
      key: String): DataFrame = {
    val aggCols = cache.columns.filterNot(_ == key)
    require(aggCols.nonEmpty,
      s"mergeAdditive: cache carries no additive columns besides key " +
        s"'$key' (schema ${cache.columns.toSeq}) — nothing to merge")
    // column SETS must match; order may differ (unionByName aligns it)
    require(aggCols.toSet == updates.columns.filterNot(_ == key).toSet,
      s"cache/update schemas differ: ${cache.columns.toSeq} vs " +
        s"${updates.columns.toSeq}")
    cache.unionByName(updates)
      .groupBy(col(key))
      .agg(sum(col(aggCols.head)).as(aggCols.head),
        aggCols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Name of the applied-batch marker INSIDE each published version
    * directory (underscore prefix → invisible to parquet readers). It
    * records the last foreachBatch batchId folded into that version, and
    * it flips atomically WITH the data — one pointer rename covers both —
    * so the dedup check below can never observe a data/marker tear.
    */
  private[graft] val BatchMarker = "_applied_batch"

  /** Write the exactly-once batch marker INSIDE a version directory —
    * the one writer, behind [[graft.operators.CacheRefresh.publishVersioned]]'s
    * `marker` (cache merge, IVF append/compact, MinHash append, skipping
    * stats), so data and marker always flip with the one pointer rename.
    */
  private[graft] def writeBatchMarker(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batchId: Long): Unit = {
    // the DIRECTORY's filesystem, not the configured default — a table
    // on s3a/abfs under an HDFS default would otherwise write the
    // marker to the wrong store and defeat the exactly-once skip
    val p = new org.apache.hadoop.fs.Path(dir, BatchMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(batchId.toString.getBytes("UTF-8")); out.close()
  }

  /** The batch id [[writeBatchMarker]] recorded in version `dir`, if
    * any. Resolves the filesystem from the directory itself, as the
    * writer does — FileSystem.get(conf) is the DEFAULT scheme, and on a
    * non-default store the marker would always read None, re-applying
    * every replayed batch.
    */
  private[graft] def readAppliedBatchIn(
      conf: org.apache.hadoop.conf.Configuration,
      dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, BatchMarker)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        s.toLongOption
      } finally in.close()
    }
  }

  /** Continuous cache maintenance: aggregate each micro-batch of
    * designation rows with `agg`, MERGE into the live snapshot, publish
    * the merged cache atomically through the versioned pointer. Readers
    * resolve via [[graft.sources.Federation.readDimension]] at any time
    * and see a complete (old or new) snapshot.
    *
    * foreachBatch is AT-LEAST-ONCE and the additive merge is not
    * idempotent, so a batch replayed after a failure or restart would
    * double-count. Two guards make the published cache exactly-once
    * (ADVICE r11):
    *  - every published version records its batchId ([[BatchMarker]],
    *    written inside the version so it swaps atomically with the
    *    data); a batch whose id is <= the current version's marker is
    *    skipped — the classic foreachBatch idempotence pattern;
    *  - the query runs with a checkpointLocation (caller-supplied, or
    *    `livePath + ".checkpoint"`), so a restarted stream resumes at
    *    the next unprocessed offset with CONTINUOUS batchIds. BatchIds
    *    are only comparable within one checkpoint lineage: pointing a
    *    FRESH checkpoint at an already-maintained livePath restarts ids
    *    at 0 and the marker will (correctly, conservatively) skip them —
    *    a new lineage needs a new livePath.
    */
  def maintain(designations: DataFrame, key: String,
      agg: DataFrame => DataFrame, livePath: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val spark = designations.sparkSession
    designations.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        checkpointLocation.getOrElse(livePath + ".checkpoint"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // resolveLive answers livePath itself when nothing is published
        val currentDir = Some(graft.operators.CacheRefresh
          .resolveLive(spark, livePath)).filter(_ != livePath)
        val alreadyApplied = currentDir.flatMap(readAppliedBatchIn(
          spark.sparkContext.hadoopConfiguration, _)).exists(_ >= batchId)
        if (alreadyApplied) {
          // replay of a batch the current version already folded in
          // (at-least-once redelivery): merging again would double-count
          ()
        } else {
          val updates = agg(batch)
          val merged =
            if (currentDir.isEmpty) updates
            else mergeAdditive(
              graft.sources.Federation.readDimension(spark, livePath),
              updates, key)
          // merged reads the CURRENT version while publishVersioned
          // writes the next and only then moves the pointer — the read
          // plan is executed (write) before the pointer flip, so the
          // self-join on the snapshot is race-free
          graft.operators.CacheRefresh.publishVersioned(spark, livePath,
              marker = Some(batchId)) { dir =>
            // repartition, not coalesce — same rationale as fullSwap's
            // numFiles: don't throttle the merge plan to 1-way
            merged.repartition(1).write.mode("overwrite").parquet(dir)
          }
        }
        ()
      }
      .start()
  }
}
