package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-granularity zone maps — the data-skipping layer ABOVE parquet's
  * own row-group statistics: one (min, max, rows) row per FILE per
  * indexed column, consulted to prune the file LIST before Spark ever
  * opens a footer. Parquet row-group stats only help after a task has
  * been scheduled against the file; at 100 TB (~800k files of 128 MB)
  * the win is not scheduling the task at all — the same small-
  * materialized-aggregates idea behind Moerkotte's zone maps and the
  * Delta/Iceberg data-skipping indexes, kept engine-local as a plain
  * parquet stats table.
  *
  * Scale posture: the stats table is one row per file — metadata-sized
  * by construction (the file listing itself is already driver-resident
  * in Spark's `InMemoryFileIndex`), so collecting it to prune is the
  * same order of driver work Spark's partition pruning does. Stats
  * build is ONE corpus scan; serving sessions read k rows.
  *
  * Correctness contract: zone maps PRUNE, they never DECIDE — the
  * original predicate is re-applied to the surviving files, so a stale
  * or lossy stats row can only cost speed (a kept file with no matches)
  * never rows, EXCEPT staleness in the other direction (a file whose
  * stats say "no overlap" but whose content changed) — which is why
  * [[saveStats]] publishes under the same versioned pointer the other
  * persisted artifacts use: stats flip atomically with nothing torn.
  * NULL semantics: min/max aggregate over non-null values, so an
  * all-null file carries null stats and is pruned — correct for range
  * predicates (NULL never satisfies BETWEEN); IS NULL / IS NOT NULL
  * predicates must never route through VALUE zones — they prune
  * through the per-file null counts instead ([[NullRange]]).
  */
object ZoneMaps {

  /** One per-column pruning interval. */
  sealed trait ZoneRange { def col: String }

  /** Inclusive numeric interval (longs; DATE columns prune as
    * epoch-day longs — the builder stores date zones that way).
    */
  final case class ColRange(col: String, lo: Long, hi: Long)
    extends ZoneRange

  /** Case-folded text interval over upper-cased zones
    * (`min_uc_`/`max_uc_` stats columns — the reference's
    * UPPER-expression index, sql/isolatedb.sql:984, at file
    * granularity). Ci equality is the point interval [V, V]
    * (`hiExclusive = false`); a ci prefix P is the HALF-OPEN range
    * [P, succ(P)) with succ = last-ASCII-char increment
    * (`hiExclusive = true`) — a closed `P + '￿'` bound would be
    * UNSOUND in UTF-8 byte order (an astral character right after the
    * prefix encodes above EF BF BF), so prefix pruning only compiles
    * for ASCII prefixes where the successor is exact.
    */
  final case class TextRange(col: String, lo: String, hi: String,
    hiExclusive: Boolean = false) extends ZoneRange

  /** IS NULL / IS NOT NULL pruning unit over the per-file null counts
    * (`nulls_<col>` in the stats table): IS NULL keeps files with at
    * least one null, IS NOT NULL keeps files that are not all-null —
    * the one clause class value zones structurally cannot serve (the
    * reference's `field IS NULL` grammar, the literal "null" operand).
    * A file whose null count is unknown (older artifact) is KEPT, per
    * the prune-never-decide contract.
    */
  final case class NullRange(col: String, wantNull: Boolean)
    extends ZoneRange

  /** The per-column stat aggregates, typed off the frame's schema:
    * strings zone as (min, max) of UPPER(value) under `min_uc_`/
    * `max_uc_` (self-describing in the artifact — the serving side
    * routes text clauses only at columns published that way); DATE
    * columns as epoch-day longs under the plain `min_`/`max_` names;
    * everything else as raw (min, max).
    */
  private def statsAggs(df: DataFrame, cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      val typed = df.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => Seq(
          min(upper(col(c))).as(s"min_uc_$c"),
          max(upper(col(c))).as(s"max_uc_$c"))
        case org.apache.spark.sql.types.DateType => Seq(
          min(datediff(col(c), to_date(lit("1970-01-01"))))
            .cast("long").as(s"min_$c"),
          max(datediff(col(c), to_date(lit("1970-01-01"))))
            .cast("long").as(s"max_$c"))
        case _ => Seq(
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))
      }
      // per-file null count for every indexed column: serves the
      // IS NULL / IS NOT NULL clause class ([[NullRange]]) that value
      // zones cannot — a null never overlaps a value interval
      typed :+ count(when(col(c).isNull, lit(1))).as(s"nulls_$c")
    }

  /** Build the per-file stats table for `cols` over a parquet layout's
    * plain read `src` — one scan, one tiny aggregation keyed on the file
    * path.
    */
  def buildStats(src: DataFrame, cols: Seq[String]): DataFrame =
    src.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"), statsAggs(src, cols): _*)

  /** Publish the stats table under a versioned pointer — the fourth
    * build-once/serve-across-sessions artifact (IVF, MinHash, tokenizer,
    * zone maps). A serving session loads k rows instead of re-scanning
    * the corpus. `numFiles` bounds the artifact's own file count: one
    * file is right for the one-row-per-file zone table, but a BLOOM
    * table at 800k corpus files is tens of millions of word rows — as
    * a single file every decision scan is serial (the 800k-file probe
    * measured 2.7 s single-file vs sub-second partitioned).
    */
  def saveStats(stats: DataFrame, livePath: String,
      numFiles: Int = 1, marker: Option[Long] = None): Unit =
    graft.operators.CacheRefresh.publishVersioned(
      stats.sparkSession, livePath, marker = marker) { dir =>
      stats.repartition(numFiles).write.mode("overwrite").parquet(dir)
    }

  /** Publish a BLOOM table clustered by `word_idx` — the layout
    * discipline that keeps the DECISION sub-second at 800k files: a
    * probe touches only a few driver-known word slots, and with the
    * artifact range-partitioned + sorted on word_idx the probe's isin
    * pre-filter prunes at file level (per-file word_idx ranges) and
    * row-group level (parquet stats) instead of scanning every word
    * row. Measured at the 800k-file probe: 2.7 s single-file → 1.2 s
    * partitioned-unclustered → sub-second clustered.
    */
  def saveBloomStats(bloom: DataFrame, livePath: String,
      numFiles: Int = 1, marker: Option[Long] = None): Unit =
    graft.operators.CacheRefresh.publishVersioned(
      bloom.sparkSession, livePath, marker = marker) { dir =>
      bloom.repartitionByRange(numFiles, col("word_idx"))
        .sortWithinPartitions(col("word_idx"), col("file"))
        .write.mode("overwrite").parquet(dir)
    }

  /** The published stats table at `livePath`. A published version
    * directory never changes, so its read (and the schema inference a
    * parquet read runs) is served from [[loadArtifact]]'s per-version
    * memo; a path with nothing published still throws.
    */
  def loadStats(spark: SparkSession, livePath: String): DataFrame =
    loadArtifact(spark, livePath).map(_.table).getOrElse(spark.read.parquet(
      graft.operators.CacheRefresh.resolveLive(spark, livePath)))

  /** The stats-row overlap test for one interval. Zone columns and the
    * probe literal compare in the SAME Spark string/long order the
    * zones were aggregated in, so the test is ordering-consistent by
    * construction.
    */
  private def zoneOverlap(r: ZoneRange): Column = r match {
    case ColRange(c, lo, hi) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    case TextRange(c, lo, hi, hiEx) =>
      col(s"max_uc_$c") >= lit(lo) &&
        (if (hiEx) col(s"min_uc_$c") < lit(hi)
         else col(s"min_uc_$c") <= lit(hi))
    // coalesce(true): an unknown null count KEEPS the file (older
    // artifact rows migrated without the nulls_ column) — prune never
    // decides
    case NullRange(c, true) =>
      coalesce(col(s"nulls_$c") > 0, lit(true))
    case NullRange(c, false) =>
      coalesce(col(s"nulls_$c") < col("rows"), lit(true))
  }

  /** What one zone decision yields: the artifact's file list, the files
    * overlapping every AND'd range, and each OR group's survivors.
    */
  private[graft] final case class ZoneDecision(files: Set[String],
    kept: Set[String], groupKept: IndexedSeq[Set[String]])

  /** The zone decision: ONE collect of (file, AND'd-ranges flag, one
    * flag per OR group) over the stats table — a file is kept iff its
    * [min, max] zone overlaps EVERY AND'd range, and survives a group
    * iff it overlaps ANY of the group's ranges. A null overlap
    * (all-null file) prunes — see the NULL contract above.
    */
  private[graft] def decideZones(stats: DataFrame, ranges: Seq[ZoneRange],
      groups: Seq[Seq[ZoneRange]]): ZoneDecision = {
    def overlap(r: ZoneRange) = coalesce(zoneOverlap(r), lit(false))
    val flags = ranges.map(overlap).foldLeft(lit(true))(_ && _) +:
      groups.map(_.map(overlap).foldLeft(lit(false))(_ || _))
    val rows = stats.select(col("file") +: flags: _*).collect()
    def keptBy(flag: Int): Set[String] =
      rows.collect { case r if r.getBoolean(flag) => r.getString(0) }.toSet
    ZoneDecision(rows.map(_.getString(0)).toSet, keptBy(1),
      groups.indices.map(i => keptBy(i + 2)))
  }

  final case class PruneReport(filesTotal: Long, filesKept: Long)

  /** Incremental stats maintenance — the append discipline the persisted
    * IVF index uses, applied to the skipping layer: a refresh after new
    * files land scans ONLY the files absent from the published stats
    * (at 100 TB an append adds a handful of files; rescanning the other
    * 800k to refresh metadata would dwarf the ingest itself) and
    * republishes the union under the next versioned pointer. Stats rows
    * are per-file and independent, so append ≡ full rebuild exactly
    * (ZoneMapsSpec pins row equality). `listing` is the data directory's
    * plain read: its files are the listing, and the fresh files are read
    * with its schema, so the refresh infers none.
    */
  def appendStats(listing: DataFrame, livePath: String, cols: Seq[String],
      marker: Option[Long] = None): Unit = {
    val spark = listing.sparkSession
    val current = loadStats(spark, livePath)
    // fresh = listing ∖ published stats, as an ANTI-JOIN against the
    // stats table: only the DELTA's names come back to the driver
    // (bounded by the ingest batch), never the known set — the r12
    // VERDICT #6 item. The listing (the read's `inputFiles`) is already
    // driver-resident in Spark's own InMemoryFileIndex, so shipping it
    // out as the join's small side adds no driver state.
    import spark.implicits._
    val fresh = listing.inputFiles.toSeq.toDF("file")
      .join(current.select(col("file")), Seq("file"), "left_anti")
      .as[String].collect()
    val merged =
      if (fresh.isEmpty) current
      else {
        val freshDf = spark.read.schema(listing.schema)
          .parquet(fresh.toIndexedSeq: _*)
        val freshStats = freshDf.groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("rows"), statsAggs(freshDf, cols): _*)
        // schema drift: an artifact published by an OLDER statsAggs
        // (pre-`nulls_` columns, raw-cased string zones under `min_`/
        // `max_`, DATE-typed date zones) cannot be merged row-wise —
        // a strict union throws, and a lenient
        // unionByName(allowMissingColumns = true) would be WORSE than
        // the error: migrated rows would carry null `min_uc_` zones,
        // which the TextRange overlap test reads as all-null files and
        // silently prunes — lost rows. The per-file rows are
        // independent, so the sound migration is a one-time full
        // rebuild under the current schema; later appends are
        // delta-only again.
        def shape(df: DataFrame) =
          df.schema.map(f => f.name -> f.dataType).toMap
        if (shape(current) != shape(freshStats))
          buildStats(listing, cols)
        else current.unionByName(freshStats)
      }
    saveStats(merged, livePath, marker = marker)
  }

  /** Incremental Bloom maintenance — the [[appendStats]] discipline for
    * the point-predicate artifact: fresh files (listing ∖ published
    * file set, anti-joined so only the delta's names reach the driver)
    * get their sparse word rows built with the ARTIFACT's own (m_bits,
    * k) — mixing constants would corrupt probe positions, so they are
    * read off the published table, never recomputed — and the union
    * republishes under the next versioned pointer. Per-file rows are
    * independent, so append ≡ full rebuild at equal constants
    * (ZoneMapsSpec pins it). A no-op delta returns without
    * republishing. `listing` is the data directory's plain read, as for
    * [[appendStats]].
    */
  def appendBloomStats(listing: DataFrame, livePath: String, keyCol: String,
      marker: Option[Long] = None): Unit = {
    val spark = listing.sparkSession
    val current = loadArtifact(spark, livePath)
      .flatMap(a => a.bloom.map(a.table -> _))
    // nothing published, or an empty table: no constants to keep
    if (current.isEmpty) {
      saveBloomStats(buildBloomStats(listing, keyCol), livePath,
        marker = marker)
      return
    }
    val (table, c) = current.get
    import spark.implicits._
    val fresh = listing.inputFiles.toSeq.toDF("file")
      .join(table.select(col("file")).distinct(), Seq("file"), "left_anti")
      .as[String].collect()
    // a no-op delta skips the republish UNLESS a batch marker must be
    // recorded (the stream-maintenance contract needs the applied id
    // even when a replayed batch contributed no new files)
    if (fresh.isEmpty && marker.isEmpty) return
    // the delta folds exactly as the artifact did — the `folded` flag
    // is as much a build constant as (m_bits, k)
    val keyExpr = if (c.folded) upper(col(keyCol)) else col(keyCol)
    val merged =
      if (fresh.isEmpty) table
      else table.unionByName(
        bloomStatsOf(
          spark.read.schema(listing.schema).parquet(fresh.toIndexedSeq: _*)
            .select(input_file_name().as("file"), keyExpr.as("__key")),
          c.mBits, c.k, folded = c.folded),
        allowMissingColumns = true)
    saveBloomStats(merged, livePath, marker = marker)
  }

  // ---- per-file Bloom filters: point-predicate skipping ----
  //
  // Zone maps prune RANGE predicates; an equality on a high-cardinality
  // column that is scattered across the value range (doc_id under a
  // layout ordered by something else) overlaps every file's [min, max]
  // and zone maps keep everything. A small per-file Bloom filter over
  // that column prunes point predicates instead — the second half of
  // the Delta/Iceberg skipping pair. Representation is SPARSE PACKED:
  // (file, word_idx, word) rows keep only non-zero 32-bit words of each
  // file's bit array, built with one distributed aggregation keyed on
  // (file, word_idx) — no driver-side bit packing, no dense mBits/8
  // bytes per file. Probes reuse the md5 scheme of operators/Bloom
  // (cross-engine-reproducible), so the filter is deterministic.

  /** The k md5-derived probe positions of one key value, computed
    * driver-side for the pruning decision — the arithmetic of
    * [[graft.operators.Bloom]]'s build-side probe, one md5 per (probe,
    * key), no Spark job.
    */
  private[sources] def bloomPositionsLocal(key: String, mBits: Long,
      k: Int): Seq[Long] =
    (0 until k).map { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i|$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val v = java.lang.Long.parseLong(hex, 16)
      ((v % mBits) + mBits) % mBits
    }

  /** Sentinel: size the filter from the corpus itself ([[autoBits]]). */
  val AutoBits: Long = -1L

  /** Auto-sized bit width: ~10 bits per expected key per FILE, rounded
    * up to a power of two, floored at 2^13. A fixture-tuned constant is
    * the default that silently dies at scale — the first 100× probe of
    * this operator saturated an 8192-bit filter with 31k keys/file
    * (every bit set → zero pruning, the AutoNlist lesson verbatim); at
    * 10 bits/key the false-positive rate stays ≈1.2% per probe set
    * regardless of corpus size.
    */
  def autoBits(rows: Long, nFiles: Long): Long = {
    val want = math.max(1L << 13, 10L * rows / math.max(nFiles, 1L))
    java.lang.Long.highestOneBit(want - 1) << 1
  }

  /** Build the per-file Bloom table for `keyCol`: one distributed
    * aggregation → (file, word_idx, word) sparse packed rows. The
    * resolved (m_bits, k) ride IN the table — a serving session probing
    * with different constants than the build would produce silent FALSE
    * NEGATIVES (wrong bit positions), so the parameters are part of the
    * artifact, never a caller convention.
    */
  def buildBloomStats(src: DataFrame, keyCol: String,
      mBits: Long = AutoBits, k: Int = 3): DataFrame = {
    val m =
      if (mBits == AutoBits) autoBits(src.count(), src.inputFiles.length.toLong)
      else mBits
    // STRING key columns build CASE-FOLDED (the reference's point
    // predicates on text are case-insensitive, Constants.pm:242 — a
    // raw-cased Bloom probed with a ci key would be a FALSE NEGATIVE,
    // lost rows); the fold is part of the artifact (`folded` column),
    // never a caller convention, same contract as (m_bits, k)
    val keyIsText =
      src.schema(keyCol).dataType == org.apache.spark.sql.types.StringType
    val keyExpr = if (keyIsText) upper(col(keyCol)) else col(keyCol)
    bloomStatsOf(src.select(input_file_name().as("file"),
      keyExpr.as("__key")), m, k, folded = keyIsText)
  }

  /** The Bloom aggregation over explicit (file, __key) rows — the
    * [[buildBloomStats]] body, also driven directly by the prune-
    * decision scale probes (which synthesize an 800k-file stats table
    * without writing 800k parquet files: the DECISION consults only the
    * stats artifacts, never the files).
    */
  private[graft] def bloomStatsOf(rows: DataFrame, mBits: Long,
      k: Int, folded: Boolean = false): DataFrame =
    rows
      .select(col("file"),
        explode(array((0 until k).map(i =>
          graft.operators.Bloom.probe(i, col("__key"), mBits)): _*))
          .as("pos"))
      .groupBy(col("file"), floor(col("pos") / 32).cast("int").as("word_idx"))
      // 2^(pos mod 32) via pow — exact in double up to 2^31, the
      // operators/Bloom mask idiom (shiftleft takes only literal shifts)
      .agg(bit_or(pow(lit(2.0), pmod(col("pos"), lit(32L)).cast("double"))
        .cast("long")).as("word"))
      .withColumn("m_bits", lit(mBits))
      .withColumn("k", lit(k))
      .withColumn("folded", lit(folded))

  /** Files that might satisfy each of `constraints`: a constraint is a
    * key list, and a file survives it iff for at least one of its keys
    * EVERY probe bit is set in the file's sparse word map (an AND key is
    * a one-key constraint). ONE job decides them all. The probe set —
    * per word slot, the (constraint, key, mask, key-bit) probes landing
    * in it — rides as a plan literal (the [[graft.operators.Bloom]]
    * `mightContain` pattern), so no probe table is broadcast; each key's
    * full hit mask is computed here, on the driver. Only the probed
    * slots' word rows are scanned (a pushable `isin` — with the table
    * word_idx-clustered it prunes whole files and row groups), each
    * matching probe ORs its key-bit into a per-(constraint, key, file)
    * mask in one RDD reduce (one job whatever the AQE setting), and only
    * the (constraint, file) pairs whose mask is full come back. The
    * decision runs DISTRIBUTED: unlike the zone stats (one row per
    * file), the Bloom table is files × set-words rows, nowhere near
    * driver-sized at 100 TB. Probe constants and the fold come from the
    * artifact ([[BloomConstants]]).
    */
  private[graft] def decideBlooms(bloom: DataFrame, c: BloomConstants,
      constraints: Seq[Seq[String]]): IndexedSeq[Set[String]] = {
    require(c.k < 64, s"a Bloom artifact with k = ${c.k} probes per key " +
      "does not fit the 63-bit hit mask")
    // the fold lives in the artifact: probes against a case-folded
    // Bloom fold HERE, the single place build and probe can't diverge
    val keys = constraints.zipWithIndex.flatMap { case (ks, ci) =>
      ks.map(k => (ci, if (c.folded) k.toUpperCase else k)) }
    // a key's k probes can share a position: its distinct positions
    // each own one bit of the key's hit mask
    val positions = keys.map { case (_, k) =>
      bloomPositionsLocal(k, c.mBits, c.k).distinct }
    val full = positions.map(ps => (1L << ps.size) - 1).toArray
    val bySlot = keys.indices.flatMap { ki =>
      positions(ki).zipWithIndex.map { case (p, j) =>
        (p >> 5).toInt -> ((keys(ki)._1, ki, 1L << (p & 31).toInt, 1L << j))
      }
    }.groupBy(_._1).map { case (slot, ps) => slot -> ps.map(_._2) }
    val hits = bloom.filter(col("word_idx").isin(bySlot.keys.toSeq: _*))
      .select(col("file"), col("word"),
        explode(typedLit(bySlot).apply(col("word_idx"))).as("p"))
      .filter(col("word").bitwiseAND(col("p._3")) =!= 0L)
      .select(col("p._1"), col("p._2"), col("file"), col("p._4"))
      .rdd.map(r => ((r.getInt(0), r.getInt(1), r.getString(2)), r.getLong(3)))
      .reduceByKey(_ | _)
      .filter { case ((_, ki, _), mask) => mask == full(ki) }
      .map { case ((ci, _, file), _) => (ci, file) }
      .collect()
    constraints.indices.map(ci => hits.collect { case (`ci`, f) => f }.toSet)
  }

  // ---- default-read-path integration (QueryCompiler routing) ----

  /** Registration of a skipping-indexed parquet layout — what a
    * [[graft.api.QueryCompiler.Catalog]] carries so compiled F1
    * range/equality clauses prune the file LIST before Spark schedules
    * a task. Which columns the zone maps index is read off the
    * published stats table itself (its `min_<col>`/`max_<col>`
    * schema), so the registration is just the artifact pointers; the
    * Bloom artifact does not record its key column, so `bloomCol`
    * names it here (build and registration must agree, same contract
    * as [[buildBloomStats]]'s probe constants).
    *
    * Contract: `dataDir` must be the layout the catalog's entity
    * table reads — the pruned scan REPLACES that scan, so a catalog
    * whose entities frame is anything other than a plain read of
    * `dataDir` must not register skipping.
    */
  final case class Layout(dataDir: String,
    statsLive: Option[String] = None,
    bloomLive: Option[String] = None,
    bloomCol: Option[String] = None)

  /** A Bloom version's build constants — (m_bits, k) and the case fold,
    * which probes must reuse — and its distinct file count. Artifacts
    * predating the `folded` column read as not folded.
    */
  private[graft] final case class BloomConstants(mBits: Long, k: Int,
    folded: Boolean, files: Long)

  /** One published artifact version: its table and, for a non-empty
    * Bloom table (one with `m_bits`), its [[BloomConstants]].
    */
  private[graft] final case class Artifact(table: DataFrame,
    bloom: Option[BloomConstants])

  /** The published artifact at `livePath`, or None when nothing has
    * been published yet — the transparent-fallback probe: a missing
    * pointer AND missing directory mean "no skipping", never an error
    * (the query must compile identically before the stats job has ever
    * run). A Bloom version's constants are read in ONE aggregation when
    * the version first loads, never per decision.
    */
  private[graft] def loadArtifact(spark: SparkSession,
      livePath: String): Option[Artifact] = {
    val live = graft.operators.CacheRefresh.resolveLive(spark, livePath)
    // memo keyed on the RESOLVED version dir: a compile-time consult
    // must not pay footer reads on every query, and a republish flips
    // the pointer to a new dir so the stale entry is simply never hit
    // again. Superseded-version eviction: a STREAM-maintained artifact
    // republishes once per micro-batch, so a long-running session would
    // hold one dead entry per version — drop the older versions of the
    // SAME artifact when a newer resolution lands.
    if (live != livePath)
      graft.SessionMemo.dropPrefix(StatsMemo, s"$livePath.v", keep = Some(live))
    graft.SessionMemo(spark, StatsMemo, live) {
      val p = new org.apache.hadoop.fs.Path(live)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val t = spark.read.parquet(live)
        Some(Artifact(t, bloomConstants(t)))
      }
    }
  }

  private def bloomConstants(t: DataFrame): Option[BloomConstants] =
    if (!t.columns.contains("m_bits")) None
    else {
      val folded = if (t.columns.contains("folded"))
        first(col("folded"), ignoreNulls = true) else lit(false)
      val r = t.agg(first(col("m_bits"), ignoreNulls = true),
        first(col("k"), ignoreNulls = true), folded,
        countDistinct(col("file"))).head()
      if (r.isNullAt(0)) None // an empty table: no constants to reuse
      else Some(BloomConstants(r.getLong(0), r.getInt(1),
        !r.isNullAt(2) && r.getBoolean(2), r.getLong(3)))
    }

  private val StatsMemo = "zonemaps.stats"

  /** How many memoized versions of `livePath` this session holds —
    * the superseded-version eviction's observable (ZoneMapsSpec pins
    * it at ≤ 1).
    */
  private[graft] def cachedVersionsOf(spark: SparkSession,
      livePath: String): Int =
    graft.SessionMemo.countPrefix(spark, StatsMemo, s"$livePath.v")

  /** One prunable unit of an OR-combined clause family: a range on an
    * indexed column, or an equality key on the Bloom column.
    */
  type OrUnit = Either[ZoneRange, BloomKey]

  /** One Bloom point probe: the key string (longs in their canonical
    * decimal form) plus whether it came from a CASE-INSENSITIVE text
    * clause. A ci key is servable only by a case-folded artifact —
    * probing a raw-cased Bloom with it would be a false negative
    * (lost rows), so unservable ci keys are dropped from AND pruning
    * and decline ANY/OR pruning entirely.
    */
  final case class BloomKey(key: String, ci: Boolean = false)

  /** File-list pruning for a conjunction of range and point predicates
    * — the one file-skipping read path: [[graft.api.QueryCompiler]] and
    * the hand-written skipping queries both reach files through it.
    * `scan` is the caller's plain read of the layout's `dataDir`: its
    * listing (`inputFiles`) and schema serve the decision and the
    * kept-file read, so the layout is read once per query. Returns None
    * (caller falls back to `scan`) when no artifact is published or no
    * clause touches an indexed column; otherwise the pruned frame
    * (schema of `scan`, exact predicates NOT applied — the caller
    * re-applies every clause, so pruning only ever skips files, never
    * decides rows) plus the prune accounting.
    *
    * Survivor algebra: the clause families are AND'd, so the kept set
    * is the INTERSECTION of the zone survivors (a file must overlap
    * every range) and each point key's Bloom survivors. Ranges on
    * columns the stats table does not index are ignored — sound under
    * AND (pruning with a predicate subset only keeps more files).
    *
    * `andKeys` are AND-composed equality probes (a file must possibly
    * contain EVERY key — per-key survivor intersection); `anyKeys` is
    * an IN-list/pasted-id-list membership probe (a file survives if it
    * may contain ANY of the keys — one Bloom constraint, the semi-join
    * S7 shape); `orGroups` are OR-combined clause families, each an
    * AND-composed constraint: a group's keep set is the UNION of its
    * units' survivors and the groups' keep sets INTERSECT. A group
    * contributes NOTHING unless EVERY one of its units is backed by a
    * published artifact (an unsupported OR arm could match any file,
    * so partial OR pruning would lose rows) — but an unsupported group
    * only drops ITSELF: under AND a constraint subset keeps more
    * files, never fewer. An over-wide ANY list stops pruning
    * ([[MaxAnyKeys]]): at some width the probe cost exceeds the
    * skipped tasks, and the semi join downstream is already the right
    * plan.
    *
    * Cost: ONE job per consulted artifact. The zone artifact answers
    * with one collect of (file, keep flag per constraint) — the AND'd
    * ranges plus every OR unit ([[decideZones]]) — which also yields its
    * file list; the Bloom artifact decides every AND key, the ANY list
    * and every OR group's keys in one collect of (constraint, file)
    * ([[decideBlooms]]), its constants and file count coming from the
    * per-version memo. A warm zone-only call, counting the caller's
    * read, runs exactly 2 jobs (ZoneMapsSpec pins it).
    */
  def pruneForClauses(scan: DataFrame, layout: Layout,
      ranges: Seq[ZoneRange], andKeys: Seq[BloomKey],
      anyKeys: Option[Seq[BloomKey]] = None,
      orGroups: Seq[Seq[OrUnit]] = Nil):
      Option[(DataFrame, PruneReport)] = {
    val spark = scan.sparkSession
    val anyK = anyKeys.filter(ks => ks.nonEmpty && ks.size <= MaxAnyKeys)
    val orGs = orGroups.filter(_.nonEmpty)
    // nothing to prune WITH → fall back before touching any artifact
    // (the common no-indexed-clause compile must not pay footer reads)
    if (ranges.isEmpty && andKeys.isEmpty && anyK.isEmpty && orGs.isEmpty)
      return None
    val orRanges = orGs.flatten.collect { case Left(r) => r }
    val orKeys = orGs.flatten.collect { case Right(k) => k }
    val stats =
      if (ranges.nonEmpty || orRanges.nonEmpty)
        layout.statsLive.flatMap(loadArtifact(spark, _)).map(_.table)
      else None
    val bloom =
      if (andKeys.nonEmpty || anyK.nonEmpty || orKeys.nonEmpty)
        layout.bloomLive.flatMap(loadArtifact(spark, _))
          .flatMap(a => a.bloom.map(a.table -> _))
      else None
    def indexed(r: ZoneRange): Boolean = r match {
      case _: ColRange =>
        stats.exists(_.columns.contains(s"min_${r.col}"))
      case _: TextRange =>
        stats.exists(_.columns.contains(s"min_uc_${r.col}"))
      case _: NullRange =>
        stats.exists(_.columns.contains(s"nulls_${r.col}"))
    }
    // ci keys need the case-folded artifact (see [[BloomKey]])
    def servable(k: BloomKey): Boolean =
      bloom.exists { case (_, c) => !k.ci || c.folded }
    val idxRanges = ranges.filter(indexed)
    // the OR groups whose every unit a published artifact backs
    val groups = orGs
      .map(us => (us.collect { case Left(r) => r },
        us.collect { case Right(k) => k }))
      .filter { case (rs, ks) => rs.forall(indexed) && ks.forall(servable) }
    val zone = stats
      .filter(_ => idxRanges.nonEmpty || groups.exists(_._1.nonEmpty))
      .map(decideZones(_, idxRanges, groups.map(_._1)))
    // the Bloom constraints: each servable AND key (the kept sets
    // intersect below), the ANY list — ONE composite constraint: a
    // single unservable key could match files the others would prune,
    // so all-or-nothing — then each group's keys
    val anded = andKeys.filter(servable).map(Seq(_)) ++
      anyK.filter(_.forall(servable))
    val constraints = anded ++ groups.map(_._2).filter(_.nonEmpty)
    val bloomKept = bloom.filter(_ => constraints.nonEmpty)
      .map { case (t, c) => decideBlooms(t, c, constraints.map(_.map(_.key))) }
      .getOrElse(IndexedSeq.empty)
    val groupBloom = bloomKept.drop(anded.size).iterator
    val groupKeeps = groups.zipWithIndex.map { case ((_, ks), i) =>
      zone.map(_.groupKept(i)).getOrElse(Set.empty[String]) ++
        (if (ks.isEmpty) Set.empty[String] else groupBloom.next())
    }
    val keeps = (if (idxRanges.isEmpty) None else zone.map(_.kept)).toSeq ++
      bloomKept.take(anded.size) ++ groupKeeps
    if (keeps.isEmpty) None
    else {
      // crash-window soundness: [[SkippingRegistry.appendFiles]] commits
      // data BEFORE refreshing stats, so a reader compiling in that
      // window — or after a crash between the write and the refresh —
      // sees layout files no consulted artifact knows. The survivor
      // sets can only hold files their artifact lists, so unknown files
      // must be restored HERE or the pruned read loses their rows
      // (prune never decides). The listing is the caller's scan's
      // driver-resident InMemoryFileIndex; the zone artifact's file list
      // came back with its decision rows, so its unknown set is a
      // driver-side difference. A Bloom artifact is files × words rows:
      // under the registry discipline artifacts are built from listings
      // of an append-only layout (artifact files ⊆ listing), so its
      // memoized file count equal to the listing's proves set equality,
      // and the anti-join runs only inside the rare mismatch window —
      // returning just the delta's names, never the known set.
      val listing = scan.inputFiles
      val bloomUsed = bloom.filter(_ => constraints.nonEmpty)
      val bloomUnknown: Set[String] = bloomUsed match {
        case Some((t, c)) if c.files != listing.length =>
          import spark.implicits._
          listing.toIndexedSeq.toDF("file")
            .join(t.select(col("file")).distinct(), Seq("file"), "left_anti")
            .as[String].collect().toSet
        case _ => Set.empty
      }
      val unknown = zone.map(listing.toSet -- _.files).getOrElse(Set.empty) ++
        bloomUnknown
      val kept = (keeps.reduce(_ intersect _) ++ unknown).toSeq.sorted
      val total = zone.map(_.files.size.toLong)
        .orElse(bloomUsed.map(_._2.files)).getOrElse(0L)
      Some((filesRead(spark, scan.schema, kept),
        PruneReport(total, kept.length.toLong)))
    }
  }

  /** The kept files, read with the caller's scan's already-inferred
    * schema (no second footer job). An empty survivor set is an empty
    * frame with that schema — `parquet()` with zero paths is an error.
    */
  private def filesRead(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*)

  /** Widest IN-list the Bloom route will prune with — beyond this the
    * probe literal itself stops being trivial and the skipped tasks no
    * longer pay for the decision.
    */
  val MaxAnyKeys: Int = 256
}
