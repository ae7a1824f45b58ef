package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem,
  Options, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialized-cache refresh modes (SURVEY §4.1): the reference maintains
  * its isolate scheme-field caches with `full`, `incremental`, and `daily`
  * modes (sql/isolatedb.sql:1439-1588, update_scheme_caches.pl) plus an
  * atomic rename-swap for cross-db replicated dimensions
  * (lib/BIGSdb/Datastore.pm:2165-2172).
  *
  * Spark-native equivalents over parquet snapshots (no table format
  * dependency) — all four of the reference's `_method` values
  * (`create_isolate_scheme_cache`, sql/isolatedb.sql:1439-1463):
  *   - full      → recompute + atomic directory swap
  *   - incremental → MERGE keyed on the cache key: changed entities'
  *     rows are recomputed and upserted, unchanged rows carry over —
  *     ONE anti join + union, no row-by-row trigger machinery
  *   - daily     → [[dailyAdd]]: append rows for entities whose
  *     datestamp is the refresh day and that are NOT yet cached
  *   - daily_replace → [[dailyReplace]]: drop + re-add the refresh
  *     day's entities (stale same-day rows get corrected)
  *   - completion_metrics → rebuild only the per-entity completion
  *     status aggregate, leaving field caches untouched
  *     (update_scheme_caches.pl:147, Offline/UpdateSchemeCaches.pm:97) —
  *     the `cache_completion_metrics` query
  *   - streaming  → graft.streaming.IncrementalWarehouse (same result,
  *     continuous)
  */
object CacheRefresh {

  /** MERGE-style upsert: `updates` replaces rows of `current` sharing the
    * same `key`; everything else carries over. The batch equivalent of the
    * reference's incremental trigger maintenance.
    */
  def upsert(current: DataFrame, updates: DataFrame, key: String): DataFrame =
    current.join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates)

  /** `daily` refresh (sql/isolatedb.sql:1461 "Add cache for isolates
    * updated today" / update_scheme_caches.pl:145): append `fresh` rows
    * whose `datestamp` equals `today` and whose `key` is NOT already
    * cached. Existing cache rows are never touched — a same-day row that
    * is already cached keeps its (possibly stale) values; that is the
    * reference's documented daily semantics, and exactly what
    * [[dailyReplace]] exists to correct. One ids-only anti join, no
    * wide-row shuffle of the standing cache.
    */
  def dailyAdd(current: DataFrame, fresh: DataFrame, key: String,
      datestamp: String, today: org.apache.spark.sql.Column): DataFrame =
    current.unionByName(
      fresh.filter(col(datestamp) === today)
        .join(current.select(col(key)), Seq(key), "left_anti"))

  /** `daily_replace` refresh (sql/isolatedb.sql:1462, the DELETE at
    * :1471-1473 followed by the daily add): drop the cached rows of every
    * entity whose `datestamp` equals `today`, then add those entities'
    * fresh rows — same-day records get corrected, all other cache rows
    * carry over untouched. Anti join on the (small) today key set + union.
    */
  def dailyReplace(current: DataFrame, fresh: DataFrame, key: String,
      datestamp: String, today: org.apache.spark.sql.Column): DataFrame = {
    val todays = fresh.filter(col(datestamp) === today)
    current.join(todays.select(col(key)), Seq(key), "left_anti")
      .unionByName(todays)
  }

  /** Full refresh published through a pointer file — the snapshot-isolation
    * form of the reference's rename-swap (Datastore.pm:2165-2172).
    *
    * A directory-rename swap (live → old, staging → live) has a window
    * where `livePath` does not exist, and a crash inside it strands the
    * cache at `livePath + ".old"`. Instead each rebuild writes a fresh
    * versioned directory `livePath.vN` and then atomically replaces the
    * one-line pointer file `livePath.current` (single-file rename — atomic
    * on POSIX and HDFS). Readers resolve through [[resolveLive]], so they
    * always see a complete snapshot: either vN-1 or vN, never a partial or
    * missing directory. Older versions are pruned only after the pointer
    * moves on, and never before `minRetainMs` of age — so an in-flight
    * scan survives even a refresh STORM (several cycles inside one scan's
    * lifetime; FederationSpec races a hammering reader against four
    * back-to-back swaps), not just the single-cycle N-1 window. Under a
    * cron-cadence refresh the grace never retains more than one extra
    * version; a pathological storm retains at most its own burst.
    */
  def fullSwap(rebuilt: DataFrame, livePath: String,
      numFiles: Option[Int] = None,
      minRetainMs: Long = 10L * 60 * 1000): Unit =
    publishVersioned(rebuilt.sparkSession, livePath, minRetainMs) { dir =>
      // numFiles: snapshot caches are dimensions, and a dimension fanned
      // out over every shuffle partition is the classic tiny-file problem
      // — each later read pays per-file open/footer costs. Callers that
      // know the size class should bound the file count (≥ tens of MB per
      // file). repartition, NOT coalesce: coalesce folds the reduction
      // into the whole rebuild plan, throttling the upstream joins/aggs
      // to numFiles-way parallelism; one extra shuffle on a tiny
      // dimension is the cheap side.
      numFiles.map(rebuilt.repartition).getOrElse(rebuilt)
        .write.mode("overwrite").parquet(dir)
    }

  /** Pointer IO must bypass Hadoop's client-side checksum layer: the
    * local FileSystem/FileContext are ChecksumFs wrappers whose rename
    * moves the data file and its `.crc` sidecar in TWO steps (a reader
    * between them fails with ChecksumException against the stale crc)
    * and whose OVERWRITE rename can delete-then-rename (a reader in the
    * window sees NO pointer at all). FederationSpec's swap-race reader
    * caught both under full-suite load. The raw filesystem's rename is
    * one rename(2) on POSIX (atomic overwrite) and one atomic NN op on
    * HDFS — and raw readers never consult crc sidecars. The FileSystem
    * is the PATH's own, not the configured default: an artifact on
    * s3a/abfs under an HDFS default lives on the path's store.
    */
  private def rawFs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  /** Atomically replace the small text file at `path` with `text` — the
    * one pointer-file writer, behind [[publishVersioned]]'s `.current`
    * pointer and the skipping registry's manifest: a reader in any JVM
    * sees the old or the new content, never a gap or a torn file. The
    * content is written to `path.tmp` and moved over `path` with ONE raw
    * rename (POSIX rename(2) overwrites atomically; HDFS needs the
    * explicit OVERWRITE fallback below — there FileContext.rename is a
    * single atomic namenode op and HDFS has no client-side crc
    * sidecars).
    */
  private[graft] def writePointerFile(conf: Configuration, path: String,
      text: String): Unit = {
    val p = new Path(path)
    val fs = rawFs(p, conf)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    out.write(text.getBytes("UTF-8")); out.close()
    // heal sidecars a pre-raw writer may have left: a raw rename would
    // leave them describing stale bytes, failing any checksummed reader
    Seq(p, tmp).foreach { f =>
      val crc = new Path(f.getParent, "." + f.getName + ".crc")
      if (fs.exists(crc)) fs.delete(crc, false)
    }
    if (!fs.rename(tmp, p))
      FileContext.getFileContext(fs.getUri, conf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** The trimmed text [[writePointerFile]] wrote at `path`, or None when
    * the file is absent or empty. Raw, so it never consults a crc
    * sidecar.
    */
  private[graft] def readPointerFile(conf: Configuration,
      path: String): Option[String] = {
    val p = new Path(path)
    val fs = rawFs(p, conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        if (s.isEmpty) None else Some(s)
      } finally in.close()
    }
  }

  /** The versioned-pointer publish protocol, independent of WHAT gets
    * written: `write` materializes the next version under the directory
    * it is handed (one parquet table for [[fullSwap]], several coupled
    * tables for a multi-table artifact like an ANN index — everything
    * under ONE version flips with ONE pointer rename, so readers can
    * never observe a torn combination of old and new parts). `marker`
    * is a stream's exactly-once batch id: written inside the version
    * after `write` ([[graft.streaming.CacheStream.writeBatchMarker]]),
    * so data and marker flip with the same rename.
    */
  def publishVersioned(spark: org.apache.spark.sql.SparkSession,
      livePath: String, minRetainMs: Long = 10L * 60 * 1000,
      marker: Option[Long] = None)(write: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = readPointerFile(conf, livePath + ".current")
    val prevV = prev.flatMap(p => "\\.v(\\d+)$".r.findFirstMatchIn(p).map(_.group(1).toInt))
    val nextV = prevV.map(_ + 1).getOrElse(1)
    val versioned = s"$livePath.v$nextV"
    write(versioned)
    marker.foreach(graft.streaming.CacheStream
      .writeBatchMarker(spark, versioned, _))
    writePointerFile(conf, livePath + ".current", versioned)
    // prune STALE versions below N-1: a reader that resolved the old
    // pointer just before the swap can still finish its scan (N-1 always
    // survives), and the age grace keeps any version a live scan could
    // still hold even when refreshes arrive faster than scans complete
    prevV.filter(_ >= 2).foreach { pv =>
      val fs = rawFs(new Path(livePath), conf)
      val now = System.currentTimeMillis()
      (1 until pv).foreach { v =>
        val p = new Path(s"$livePath.v$v")
        if (fs.exists(p) &&
            now - fs.getFileStatus(p).getModificationTime > minRetainMs)
          fs.delete(p, true)
      }
    }
  }

  /** Resolve the live snapshot directory for a cache published by
    * [[fullSwap]] (falls back to `livePath` itself for caches written
    * directly, pre-pointer).
    */
  def resolveLive(spark: org.apache.spark.sql.SparkSession, livePath: String): String =
    readPointerFile(spark.sparkContext.hadoopConfiguration,
      livePath + ".current").getOrElse(livePath)
}
