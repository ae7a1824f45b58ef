package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-table skipping-artifact registry — what turns the file-
  * skipping layer from "default read path" into "default for the whole
  * engine": the reference keeps its query-backing stats TRIGGER-
  * maintained (sql/isolatedb.sql:522-610 — every write refreshes
  * seqbin_stats inline, so no query ever runs against a table whose
  * stats nobody refreshed); here the same discipline is (a) the
  * artifacts RIDE WITH the table they index, under the underscore-
  * prefixed child `<dataDir>/_skipping/` that Spark/Hadoop data
  * listings ignore (the `_SUCCESS` convention — no side-channel path
  * to plumb, and a copied/moved table keeps its stats), and (b) every
  * registered write path calls [[refresh]] inline, scanning ONLY the
  * delta files ([[ZoneMaps.appendStats]]/[[ZoneMaps.appendBloomStats]]).
  *
  * Layout under `_skipping/`:
  *   - `manifest` — one line per entry, `zone_cols=a,b` /
  *     `bloom_col=k`: WHICH columns are indexed (column identifiers
  *     only — no quoting). The manifest is metadata about artifact
  *     existence, written once at [[register]] and replaced on
  *     re-register through the one pointer-file writer
  *     ([[graft.operators.CacheRefresh.writePointerFile]], the
  *     `.current` pointers' atomic raw rename): a reader in any JVM
  *     sees the old or the new registration, never none.
  *   - `stats.v<N>` + `stats.current` — the zone-map table under the
  *     [[graft.operators.CacheRefresh]] versioned pointer.
  *   - `bloom.v<N>` + `bloom.current` — the per-file Bloom table,
  *     word_idx-clustered ([[ZoneMaps.saveBloomStats]]).
  *
  * At 100 TB the failure mode this kills is the SILENT full-scan
  * regression: an ingest lands new files, nothing refreshes the stats,
  * and every later "pruned" query now reads a survivor list that is
  * simply stale-complete — correct (prune never decides; unknown files
  * are a different hazard, see below) but unpruned. Registry-routed
  * reads instead see stats that every write path refreshed inline.
  *
  * Reads: [[ZoneMaps.pruneForClauses]] is the one skipping read path.
  * It consults each artifact with one job — the zone stats with one
  * collect of per-file flags, the Bloom with one collect of
  * (constraint, file) for every point-key constraint of the query —
  * and memoizes each published version, a Bloom version with its build
  * constants and file count, so a warm consult reads no constants.
  *
  * Freshness note: files ABSENT from the stats table are never pruned
  * — [[ZoneMaps.pruneForClauses]] keeps every file no consulted
  * artifact knows — but they are read unpruned, which is why refresh
  * is INLINE on the write path rather than a cron job — the same
  * reasoning the reference uses triggers, not batch rebuilds. A table
  * written outside [[appendFiles]]/[[refresh]] should re-[[refresh]]
  * before serving reads.
  */
object SkippingRegistry {

  private def root(dataDir: String): String =
    s"${dataDir.stripSuffix("/")}/_skipping"
  def statsLivePath(dataDir: String): String = s"${root(dataDir)}/stats"
  def bloomLivePath(dataDir: String): String = s"${root(dataDir)}/bloom"
  private def manifestPath(dataDir: String): String =
    s"${root(dataDir)}/manifest"

  /** What a manifest records: which columns carry zone maps, which one
    * (if any) carries the per-file Bloom.
    */
  final case class Registration(zoneCols: Seq[String],
    bloomCol: Option[String])

  /** Build + publish the skipping artifacts for `dataDir` and record
    * the registration. One corpus scan per artifact family; later
    * writes maintain them incrementally via [[refresh]]. Returns the
    * Layout serving sessions will resolve.
    */
  def register(spark: SparkSession, dataDir: String,
      zoneCols: Seq[String], bloomCol: Option[String] = None):
      ZoneMaps.Layout = {
    require(zoneCols.nonEmpty || bloomCol.nonEmpty,
      "a registration must index at least one column")
    // one read (listing and schema) serves both artifacts' builds
    val src = spark.read.parquet(dataDir)
    if (zoneCols.nonEmpty)
      ZoneMaps.saveStats(ZoneMaps.buildStats(src, zoneCols),
        statsLivePath(dataDir))
    bloomCol.foreach(c =>
      ZoneMaps.saveBloomStats(ZoneMaps.buildBloomStats(src, c),
        bloomLivePath(dataDir)))
    writeManifest(spark, dataDir, Registration(zoneCols, bloomCol))
    // same-JVM sessions that probed before registration hold a memoized
    // None — drop every entry for this dataDir so they re-consult
    graft.SessionMemo.dropPrefix(LayoutMemo, dataDir)
    layoutFor(spark, dataDir).getOrElse(
      throw new IllegalStateException(s"registration not readable: $dataDir"))
  }

  /** The registered Layout for `dataDir`, or None when the table has no
    * registration — the transparent-fallback contract of the whole
    * skipping layer (a query over an unregistered table compiles the
    * plain scan). Memoized per (session, dataDir): the consult is on
    * every compiled query's path and must not pay a filesystem probe
    * each time. A registration arriving AFTER a session's first probe
    * is seen by that session only via [[register]]'s same-JVM cache
    * invalidation (cross-JVM: sessions list their tables' registrations
    * on first touch, which is when the table itself is first read).
    */
  def layoutFor(spark: SparkSession, dataDir: String):
      Option[ZoneMaps.Layout] =
    graft.SessionMemo(spark, LayoutMemo, dataDir) {
      readManifest(spark, dataDir).map(r => ZoneMaps.Layout(dataDir,
        statsLive = if (r.zoneCols.nonEmpty)
          Some(statsLivePath(dataDir)) else None,
        bloomLive = r.bloomCol.map(_ => bloomLivePath(dataDir)),
        bloomCol = r.bloomCol))
    }

  private val LayoutMemo = "skipping.layout"

  /** Refresh the registered artifacts after new files landed in
    * `dataDir`: delta-only (fresh files are discovered by anti-join
    * against the published stats; only they are scanned) and a no-op
    * when nothing changed. Unregistered tables no-op — callers can
    * refresh unconditionally on every write path.
    *
    * `marker` is the stream-maintenance exactly-once batch id
    * ([[graft.streaming.StatsStream]]): it rides on the artifact
    * [[appliedBatch]] reads — the LAST one refreshed — so the refresh
    * order below (Bloom first, marker-carrier last) makes a crash
    * between the two publishes replay-safe: the replay re-runs the
    * Bloom append (idempotent — its own anti-join finds nothing new)
    * and then completes the marker-carrying publish.
    */
  def refresh(spark: SparkSession, dataDir: String,
      marker: Option[Long] = None): Unit =
    readManifest(spark, dataDir).foreach { reg =>
      // one listing read serves both artifacts' delta anti-joins, and its
      // schema their reads of the fresh files
      val listing = spark.read.parquet(dataDir)
      reg.bloomCol.foreach(c =>
        ZoneMaps.appendBloomStats(listing, bloomLivePath(dataDir), c,
          marker = marker.filter(_ => reg.zoneCols.isEmpty)))
      if (reg.zoneCols.nonEmpty)
        ZoneMaps.appendStats(listing, statsLivePath(dataDir), reg.zoneCols,
          marker = marker)
    }

  /** The last stream batch id folded into the registered artifacts
    * (None before any marked refresh) — read from the marker-carrying
    * artifact per [[refresh]]'s ordering contract.
    */
  def appliedBatch(spark: SparkSession, dataDir: String): Option[Long] =
    readManifest(spark, dataDir).flatMap { reg =>
      val livePath = if (reg.zoneCols.nonEmpty) statsLivePath(dataDir)
        else bloomLivePath(dataDir)
      val live = graft.operators.CacheRefresh.resolveLive(spark, livePath)
      if (live == livePath) None // nothing published yet
      else graft.streaming.CacheStream.readAppliedBatchIn(
        spark.sparkContext.hadoopConfiguration, live)
    }

  /** The registered WRITE path: append `df` to the table, then refresh
    * its skipping artifacts inline — the trigger-maintained-stats
    * discipline. The refresh scans exactly the files this append
    * created (delta anti-join), so ingest cost stays proportional to
    * the ingest.
    */
  def appendFiles(df: DataFrame, dataDir: String): Unit = {
    df.write.mode("append").parquet(dataDir)
    refresh(df.sparkSession, dataDir)
  }

  // the manifest goes through the one pointer-file writer: a reader in
  // another JVM sees the old or the new registration, never a gap it
  // would memoize as "unregistered" for its whole session
  private def writeManifest(spark: SparkSession, dataDir: String,
      reg: Registration): Unit = {
    val lines = (if (reg.zoneCols.nonEmpty)
        Seq(s"zone_cols=${reg.zoneCols.mkString(",")}") else Nil) ++
      reg.bloomCol.map(c => s"bloom_col=$c")
    graft.operators.CacheRefresh.writePointerFile(
      spark.sparkContext.hadoopConfiguration, manifestPath(dataDir),
      lines.mkString("\n") + "\n")
  }

  private[graft] def readManifest(spark: SparkSession,
      dataDir: String): Option[Registration] =
    graft.operators.CacheRefresh.readPointerFile(
      spark.sparkContext.hadoopConfiguration, manifestPath(dataDir))
      .map { text =>
        val kv = text.linesIterator.map(_.trim).filter(_.contains("="))
          .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
          .toMap
        Registration(
          kv.get("zone_cols").map(_.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq).getOrElse(Nil),
          kv.get("bloom_col").map(_.trim).filter(_.nonEmpty))
      }
}
