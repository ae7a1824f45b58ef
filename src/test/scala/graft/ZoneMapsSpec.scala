package graft

import graft.sources.{SkippingRegistry, ZoneMaps}
import org.apache.spark.sql.functions._

/** File-granularity zone-map skipping: pruning must actually skip files
  * on a range-partitioned layout, and must NEVER lose rows — the pruned
  * read equals the full-scan filter exactly, including the null-zone
  * and no-survivor edges.
  */
class ZoneMapsSpec extends SparkSpec {
  import spark.implicits._

  private def layout(rows: Seq[(Long, Long, String)], parts: Int = 8) = {
    val dir = tempDir("graft-zm").toString + "/data"
    rows.toDF("id", "v", "tag")
      .repartitionByRange(parts, col("v"), col("id"))
      .write.parquet(dir)
    dir
  }

  // every skipping read goes through pruneForClauses over a Layout and
  // the caller's plain read of it; the caller re-applies the exact
  // predicate
  private def register(dir: String, zoneCols: Seq[String],
      bloomCol: Option[String] = None) =
    SkippingRegistry.register(spark, dir, zoneCols, bloomCol)

  private def prune(lay: ZoneMaps.Layout, ranges: Seq[ZoneMaps.ZoneRange]) =
    ZoneMaps.pruneForClauses(spark.read.parquet(lay.dataDir), lay, ranges,
      Nil).get

  private def listing(dir: String) = spark.read.parquet(dir).inputFiles.toSeq

  private def pruneAny(lay: ZoneMaps.Layout, keys: Seq[Long]) =
    ZoneMaps.pruneForClauses(spark.read.parquet(lay.dataDir), lay, Nil, Nil,
      Some(keys.map(k => ZoneMaps.BloomKey(k.toString)))).get

  test("range layout: files are skipped and the pruned read equals the " +
      "full-scan filter exactly") {
    val rows = (0L until 400L).map(i => (i, i % 97 * 10, s"t${i % 3}"))
    val dir = layout(rows)
    val ranges = Seq(ZoneMaps.ColRange("v", 200, 350))
    val (pruned, report) = prune(register(dir, Seq("v")), ranges)
    assert(report.filesKept < report.filesTotal,
      s"a range layout must skip files (${report.filesKept}/${report.filesTotal})")
    assert(report.filesKept > 0)
    val got = pruned.filter(col("v").between(200, 350))
      .select("id", "v", "tag")
      .as[(Long, Long, String)].collect().toSeq.sorted
    val want = spark.read.parquet(dir)
      .filter(col("v").between(200, 350))
      .select("id", "v", "tag")
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(got == want, "pruning must never change the result")
    assert(want.nonEmpty)
  }

  test("conjunction: a file must overlap EVERY predicate to survive") {
    val rows = (0L until 200L).map(i => (i, i * 5, s"t${i % 2}"))
    val dir = layout(rows)
    val ranges = Seq(ZoneMaps.ColRange("v", 0, 995),
      ZoneMaps.ColRange("id", 150, 160))
    val (pruned, report) = prune(register(dir, Seq("v", "id")), ranges)
    // v covers the whole domain; the id interval alone must do the pruning
    assert(report.filesKept < report.filesTotal)
    val got = pruned
      .filter(col("v").between(0, 995) && col("id").between(150, 160))
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == (150L to 160L),
      "conjunction must keep exactly the intersection's rows")
  }

  test("null zones: an all-null file prunes, a mixed file survives with " +
      "its non-null matches") {
    val dir = tempDir("graft-zm").toString + "/data"
    // three explicit files: all-null, mixed, all-in-range
    Seq((1L, None: Option[Long], "n"), (2L, None, "n"))
      .toDF("id", "v", "tag").coalesce(1).write.parquet(dir)
    Seq((3L, Some(50L), "m"), (4L, None: Option[Long], "m"))
      .toDF("id", "v", "tag").coalesce(1).write.mode("append").parquet(dir)
    Seq((5L, Some(60L), "r"), (6L, Some(70L), "r"))
      .toDF("id", "v", "tag").coalesce(1).write.mode("append").parquet(dir)
    val ranges = Seq(ZoneMaps.ColRange("v", 40, 100))
    val (pruned, report) = prune(register(dir, Seq("v")), ranges)
    assert(report.filesKept == 2 && report.filesTotal == 3,
      s"the all-null file must prune: $report")
    val got = pruned.filter(col("v").between(40, 100))
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == Seq(3L, 5L, 6L),
      "null rows in surviving files must still be filtered out")
  }

  test("no survivors: empty frame with the layout's schema, zero rows") {
    val rows = (0L until 50L).map(i => (i, i, "t"))
    val dir = layout(rows, parts = 4)
    val (pruned, report) = prune(register(dir, Seq("v")),
      Seq(ZoneMaps.ColRange("v", 1000, 2000)))
    assert(report.filesKept == 0)
    assert(pruned.count() == 0)
    assert(pruned.columns.toSeq == Seq("id", "v", "tag"))
  }

  test("bloom skipping: point predicates prune files zone maps cannot, " +
      "and the pruned read equals the exact IN filter") {
    // layout ordered by v — ids are scattered, so id zone maps span
    // every file and only the Bloom can prune an id probe
    val rows = (0L until 400L).map(i => (i, (i * 37) % 400, s"t${i % 3}"))
    val dir = layout(rows)
    val lay = register(dir, Seq("id"), Some("id"))
    val (_, zoneReport) = prune(lay, Seq(ZoneMaps.ColRange("id", 17, 17)))
    val keys = Seq(17L, 391L)
    val (pruned, report) = pruneAny(lay, keys)
    assert(report.filesKept < report.filesTotal,
      s"bloom must skip files (${report.filesKept}/${report.filesTotal})")
    assert(report.filesKept < zoneReport.filesKept,
      s"bloom must out-prune id zone maps on a v-ordered layout: " +
        s"$report vs $zoneReport")
    val got = pruned.filter(col("id").isin(keys: _*))
      .select("id", "v", "tag")
      .as[(Long, Long, String)].collect().toSeq.sorted
    val want = spark.read.parquet(dir).filter(col("id").isin(keys: _*))
      .select("id", "v", "tag")
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(got == want, "bloom pruning must never change the result")
    assert(want.size == 2)
  }

  test("bloom: absent key prunes everything (no false negatives needed, " +
      "false positives only cost reads)") {
    val rows = (0L until 100L).map(i => (i, i, "t"))
    val dir = layout(rows, parts = 4)
    val (pruned, report) = pruneAny(register(dir, Nil, Some("id")),
      Seq(99999L))
    assert(pruned.filter(col("id") === 99999L).count() == 0)
    // with mBits = 8192 and 100 keys the false-positive odds per file
    // are negligible; tolerate them but expect usually-zero survivors
    assert(report.filesKept <= 1,
      s"an absent key should prune ~all files (kept ${report.filesKept})")
  }

  test("bloom auto-sizing: a dense layout that saturates the fixture " +
      "width still prunes (the AutoNlist lesson)") {
    // 4 files x 50k keys: at the old fixed 8192 bits every bit would be
    // set (150k probe positions into 8k slots) and nothing would prune;
    // autoBits resolves ~2^19 and an absent key prunes everything
    val rows = (0L until 200000L).map(i => (i, i, "t"))
    val dir = layout(rows, parts = 4)
    val lay = register(dir, Nil, Some("id"))
    val bloom = ZoneMaps.loadStats(spark, SkippingRegistry.bloomLivePath(dir))
    assert(bloom.select("m_bits").head().getLong(0) >= (1L << 19),
      "auto width must scale with keys per file")
    val (pruned, report) = pruneAny(lay, Seq(999999999L))
    assert(pruned.filter(col("id") === 999999999L).count() == 0)
    assert(report.filesKept <= 1,
      s"absent key must prune a dense corpus too (kept ${report.filesKept})")
    // present keys still never lose rows (no false negatives)
    val (hit, _) = pruneAny(lay, Seq(123456L))
    assert(hit.filter(col("id") === 123456L)
      .select("id").as[Long].collect().toSeq == Seq(123456L))
  }

  test("appendStats scans only the new files and equals a full rebuild") {
    val dir = tempDir("graft-zm").toString + "/data"
    (0L until 100L).map(i => (i, i * 2, "a")).toDF("id", "v", "tag")
      .repartitionByRange(4, col("v")).write.parquet(dir)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v")), statsPath)
    // new files land (append); refresh incrementally
    (100L until 150L).map(i => (i, i * 2, "b")).toDF("id", "v", "tag")
      .coalesce(2).write.mode("append").parquet(dir)
    ZoneMaps.appendStats(spark.read.parquet(dir), statsPath, Seq("v"))
    val appended = ZoneMaps.loadStats(spark, statsPath)
      .orderBy("file").collect().toSeq
    val rebuilt = ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v"))
      .orderBy("file").collect().toSeq
    assert(appended == rebuilt,
      "incremental append must equal the full rebuild row-for-row")
    // idempotent: nothing new -> same stats republished
    ZoneMaps.appendStats(spark.read.parquet(dir), statsPath, Seq("v"))
    assert(ZoneMaps.loadStats(spark, statsPath)
      .orderBy("file").collect().toSeq == rebuilt)
  }

  test("appendStats migrates a pre-drift artifact by full rebuild: no " +
      "AnalysisException, no silently-pruning null zones") {
    val dir = tempDir("graft-zm").toString + "/data"
    (0L until 100L).map(i => (i, i * 2, s"TAG${i % 7}"))
      .toDF("id", "v", "tag")
      .repartitionByRange(4, col("v")).write.parquet(dir)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    // simulate an artifact published by an OLDER statsAggs: no nulls_
    // columns, raw-cased string zones under min_/max_ names
    val old = ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v", "tag"))
      .drop("nulls_v", "nulls_tag")
      .withColumnRenamed("min_uc_tag", "min_tag")
      .withColumnRenamed("max_uc_tag", "max_tag")
    ZoneMaps.saveStats(old, statsPath)
    (100L until 150L).map(i => (i, i * 2, s"tag${i % 7}"))
      .toDF("id", "v", "tag")
      .coalesce(2).write.mode("append").parquet(dir)
    // a strict union would throw; a lenient one would publish rows whose
    // null min_uc_ zones read as all-null files and silently prune —
    // the drift detector must rebuild instead
    ZoneMaps.appendStats(spark.read.parquet(dir), statsPath, Seq("v", "tag"))
    val migrated = ZoneMaps.loadStats(spark, statsPath)
      .orderBy("file").collect().toSeq
    val rebuilt = ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v", "tag"))
      .orderBy("file").collect().toSeq
    assert(migrated == rebuilt,
      "schema-drift refresh must equal the full rebuild row-for-row")
    // and TEXT pruning over the migrated artifact keeps every live row
    val ranges = Seq(ZoneMaps.TextRange("tag", "TAG3", "TAG3"))
    val (pruned, _) = prune(ZoneMaps.Layout(dir, statsLive = Some(statsPath)),
      ranges)
    val got = pruned.filter(upper(col("tag")) === "TAG3")
      .select("id").as[Long].collect().toSeq.sorted
    val want = spark.read.parquet(dir)
      .filter(upper(col("tag")) === "TAG3")
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == want && want.nonEmpty,
      "migrated text zones must not lose rows")
  }

  test("crash window: files appended without a stats refresh are KEPT by " +
      "pruneForClauses — prune never decides") {
    val dir = tempDir("graft-zm").toString + "/data"
    (0L until 100L).map(i => (i, i * 2, "a")).toDF("id", "v", "tag")
      .repartitionByRange(4, col("v")).write.parquet(dir)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v")), statsPath)
    // the appendFiles crash window: data committed, refresh never ran
    (100L until 150L).map(i => (i, i * 2, "b")).toDF("id", "v", "tag")
      .coalesce(2).write.mode("append").parquet(dir)
    val lay = ZoneMaps.Layout(dir, statsLive = Some(statsPath))
    // the range matches rows in BOTH known and unknown files
    val routed = ZoneMaps.pruneForClauses(spark.read.parquet(dir), lay,
      Seq(ZoneMaps.ColRange("v", 150, 250)), Nil)
    assert(routed.nonEmpty, "pruning must stay on through the window")
    val (pruned, rep) = routed.get
    val got = pruned.filter(col("v").between(150, 250))
      .select("id").as[Long].collect().toSeq.sorted
    val want = spark.read.parquet(dir)
      .filter(col("v").between(150, 250))
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == want, "unknown files must be kept, not silently pruned")
    assert(want.exists(_ >= 100L), "the probe must touch appended rows")
    // the unknown files rode along without giving up pruning entirely:
    // out-of-range KNOWN files are still skipped
    assert(rep.filesKept < rep.filesTotal + 2,
      s"kept ${rep.filesKept} of ${rep.filesTotal} known + 2 unknown")
    val steady = ZoneMaps.pruneForClauses(spark.read.parquet(dir), lay,
      Seq(ZoneMaps.ColRange("v", 0, 10)), Nil)
    assert(steady.get._2.filesKept <= 1 + 2,
      "known-file pruning must still work inside the window")
  }

  test("job budget: a warm zone-only pruneForClauses runs 2 jobs — one " +
      "stats collect and the listing's schema inference") {
    val rows = (0L until 400L).map(i => (i, i % 97 * 10, s"t${i % 3}"))
    val lay = register(layout(rows), Seq("v"))
    val ranges = Seq(ZoneMaps.ColRange("v", 200, 350))
    prune(lay, ranges) // cold: loads the stats memo
    val jobs = jobsOf(prune(lay, ranges))
    assert(jobs.size == 2, s"warm zone-only decision jobs: $jobs")
    assert(jobs.count(_.startsWith("collect at ZoneMaps")) == 1, jobs.toString)
  }

  test("job budget: an OR group of 3 zone units decides in ONE stats " +
      "collect and keeps every unit's rows") {
    val rows = (0L until 400L).map(i => (i, i % 97 * 10, s"t${i % 3}"))
    val dir = layout(rows)
    val lay = register(dir, Seq("v"))
    val units = Seq((0L, 10L), (500L, 510L), (900L, 910L))
    val group: Seq[ZoneMaps.OrUnit] =
      units.map { case (lo, hi) => Left(ZoneMaps.ColRange("v", lo, hi)) }
    def run() = ZoneMaps.pruneForClauses(spark.read.parquet(dir), lay, Nil,
      Nil, orGroups = Seq(group)).get
    run() // cold: loads the stats memo
    val jobs = jobsOf(run())
    assert(jobs.count(_.startsWith("collect at ZoneMaps")) == 1,
      s"one stats collect for every unit: $jobs")
    assert(jobs.size == 2, jobs.toString)
    val (pruned, report) = run()
    assert(report.filesKept < report.filesTotal, report.toString)
    val exact = units.map { case (lo, hi) => col("v").between(lo, hi) }
      .reduce(_ || _)
    val got = pruned.filter(exact).select("id").as[Long].collect().toSeq.sorted
    val want = spark.read.parquet(dir).filter(exact)
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == want && want.nonEmpty, "the OR survivors lost rows")
  }

  test("job budget: a warm Bloom-only call with 2 AND keys, an ANY list " +
      "and an OR group decides in ONE collect and keeps the exact rows") {
    // mixed-case text key scattered under the v order: only the
    // (case-folded) Bloom can prune; the two AND keys fold to one value,
    // so the conjunction has rows to keep
    val dir = tempDir("graft-zm").toString + "/data"
    (0L until 400L).map(i => (i, (i * 37) % 400, s"Key$i"))
      .toDF("id", "v", "name")
      .repartitionByRange(8, col("v"), col("id"))
      .write.parquet(dir)
    val lay = register(dir, Nil, Some("name"))
    def ci(k: String) = ZoneMaps.BloomKey(k, ci = true)
    def run() = ZoneMaps.pruneForClauses(spark.read.parquet(dir), lay,
      Nil, Seq(ci("kEy17"), ci("KEY17")),
      anyKeys = Some(Seq(ci("key17"), ci("key300"))),
      orGroups = Seq(Seq(Right(ci("KEY17")), Right(ci("key5"))))).get
    run() // cold: loads the Bloom version and its constants
    val jobs = jobsOf(run())
    assert(jobs.count(_.startsWith("collect at ZoneMaps")) == 1,
      s"one decision collect for every Bloom constraint: $jobs")
    assert(jobs.size == 2, s"the caller's read plus the decision: $jobs")
    val (pruned, report) = run()
    assert(report.filesKept > 0 && report.filesKept < report.filesTotal,
      report.toString)
    val name = upper(col("name"))
    val exact = name === "KEY17" && name === "KEY17" &&
      name.isin("KEY17", "KEY300") && (name === "KEY17" || name === "KEY5")
    val got = pruned.filter(exact).select("id").as[Long].collect().toSeq
    val want = spark.read.parquet(dir).filter(exact)
      .select("id").as[Long].collect().toSeq
    assert(got == want && want == Seq(17L), s"kept $got, want $want")
  }

  test("job budget: a refresh after one appended file lists the data " +
      "directory once for both artifacts") {
    val dir = tempDir("graft-zm").toString + "/data"
    (0L until 200L).map(i => (i, i % 50, s"t$i")).toDF("id", "v", "tag")
      .repartitionByRange(4, col("v"), col("id")).write.parquet(dir)
    val lay = register(dir, Seq("v"), Some("id"))
    Seq((500L, 7L, "t500")).toDF("id", "v", "tag")
      .write.mode("append").parquet(dir)
    val jobs = jobsOf(SkippingRegistry.refresh(spark, dir))
    // one listing read in refresh, whose schema serves both artifacts'
    // reads of the fresh file; per artifact, one read of its published
    // version — a listing per artifact would make it 4, a schema
    // inference per fresh-file read 5
    assert(jobs.count(_.startsWith("parquet at SkippingRegistry")) == 1,
      s"one listing: $jobs")
    assert(jobs.count(_.startsWith("parquet at")) == 3,
      s"the listing plus one version read per artifact: $jobs")
    val (kept, report) = pruneAny(lay, Seq(500L))
    assert(report.filesTotal == listing(dir).size && report.filesKept >= 1,
      report.toString)
    assert(kept.filter(col("id") === 500L).count() == 1)
  }

  test("job budget: register reads the data directory once for both " +
      "artifacts") {
    val dir = tempDir("graft-zm").toString + "/data"
    (0L until 200L).map(i => (i, i % 50, s"t$i")).toDF("id", "v", "tag")
      .repartitionByRange(4, col("v"), col("id")).write.parquet(dir)
    var lay: ZoneMaps.Layout = null
    val jobs = jobsOf { lay = register(dir, Seq("v"), Some("id")) }
    // the one schema inference is register's own read; the zone and
    // Bloom builds infer nothing of their own
    assert(jobs.count(_.startsWith("parquet at")) == 1,
      s"one read of the data directory: $jobs")
    assert(jobs.count(_.startsWith("parquet at SkippingRegistry")) == 1,
      jobs.toString)
    val (kept, report) = pruneAny(lay, Seq(7L))
    assert(report.filesKept >= 1 && report.filesKept < report.filesTotal,
      report.toString)
    assert(kept.filter(col("id") === 7L).count() == 1)
  }

  test("bloom constants are read once per published version: after an " +
      "appendFiles republish the new version loads once, warm calls read " +
      "none, and the old version's entry evicts") {
    val rows = (0L until 400L).map(i => (i, (i * 37) % 400, s"t${i % 3}"))
    val dir = layout(rows)
    val lay = register(dir, Nil, Some("id"))
    pruneAny(lay, Seq(17L)) // loads the first version
    SkippingRegistry.appendFiles(
      Seq((1000L, 5L, "new")).toDF("id", "v", "tag"), dir)
    // the new version's load: its schema read plus the one constants
    // aggregation (split into several jobs under AQE)
    val first = jobsOf(pruneAny(lay, Seq(1000L)))
    assert(first.exists(_.startsWith("parquet at ZoneMaps")), first.toString)
    val warm = jobsOf(pruneAny(lay, Seq(1000L)))
    assert(warm.size == 2 &&
      warm.count(_.startsWith("collect at ZoneMaps")) == 1,
      s"a warm call is the caller's read plus the decision: $warm")
    assert(first.size > warm.size + 1, s"cold $first vs warm $warm")
    assert(ZoneMaps.cachedVersionsOf(spark,
      SkippingRegistry.bloomLivePath(dir)) <= 1)
    val (pruned, report) = pruneAny(lay, Seq(1000L))
    assert(report.filesTotal == 9 && report.filesKept < report.filesTotal,
      report.toString)
    assert(pruned.filter(col("id") === 1000L).select("id").as[Long]
      .collect().toSeq == Seq(1000L))
  }

  test("compiled routing: an F1 range clause prunes the file list, the " +
      "plan equals the unpruned compile, and no-stats falls back") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val rows = (0L until 400L).map(i => (i, i % 97 * 10, s"t${i % 3}"))
    val dir = layout(rows)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v")), statsPath)
    val lay = ZoneMaps.Layout(dir, statsLive = Some(statsPath))
    val spec = QuerySpec(provenance = Seq(
      FieldClause("v", Predicates.Ge, "200", isText = false),
      FieldClause("v", Predicates.Le, "350", isText = false),
      FieldClause("tag", Predicates.Eq, "t1")))
    def catWith(sk: Option[ZoneMaps.Layout]) = Catalog(
      entities = spark.read.parquet(dir), entityId = "id", skipping = sk)
    val (pruned, report) = compileWithPruneReport(spec, catWith(Some(lay)))
    assert(report.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"compiled range clause must skip files: $report")
    def rows3(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v", "tag").as[(Long, Long, String)]
        .collect().toSeq.sorted
    val want = rows3(compile(spec, catWith(None)))
    assert(rows3(pruned) == want,
      "routed plan must return exactly the unpruned plan's rows")
    assert(want.nonEmpty)
    // unindexed text clause alone -> no pruning, plain compile
    val textOnly = QuerySpec(provenance =
      Seq(FieldClause("tag", Predicates.Eq, "t1")))
    assert(compileWithPruneReport(textOnly, catWith(Some(lay)))._2.isEmpty)
    // OR with an unindexed arm (the text clause) cannot prune: that arm
    // could match any file -> transparent fallback
    val orSpec = spec.copy(provenanceCombine = CombineOr)
    val (orDf, orRep) = compileWithPruneReport(orSpec, catWith(Some(lay)))
    assert(orRep.isEmpty)
    assert(rows3(orDf) == rows3(compile(orSpec, catWith(None))))
    // OR where EVERY arm is an indexed range prunes with survivor UNION
    val orIdx = QuerySpec(provenance = Seq(
      FieldClause("v", Predicates.Le, "50", isText = false),
      FieldClause("v", Predicates.Ge, "900", isText = false)),
      provenanceCombine = CombineOr)
    val (uDf, uRep) = compileWithPruneReport(orIdx, catWith(Some(lay)))
    assert(uRep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"fully-indexed OR must prune via survivor union: $uRep")
    assert(rows3(uDf) == rows3(compile(orIdx, catWith(None))))
    assert(rows3(uDf).nonEmpty)
    // never-published stats path -> transparent fallback, identical rows
    val ghost = ZoneMaps.Layout(dir,
      statsLive = Some(statsPath + ".never-published"))
    val (fb, fbRep) = compileWithPruneReport(spec, catWith(Some(ghost)))
    assert(fbRep.isEmpty, "missing stats must fall back, not throw")
    assert(rows3(fb) == want)
  }

  test("compiled routing: OR with a grouped clause declines clause " +
      "pruning when a member field is unindexed — a row matching only " +
      "the grouped clause survives") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val rows = (0L until 400L).map(i => (i, i % 97 * 10, s"t${i % 3}"))
    val dir = layout(rows)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v")), statsPath)
    val cat = Catalog(entities = spark.read.parquet(dir), entityId = "id",
      skipping = Some(ZoneMaps.Layout(dir, statsLive = Some(statsPath))))
    // the grouped clause participates in the OR (compileFamilies folds
    // provenance + grouped into one scalar predicate): rows with tag=t1
    // live in EVERY file, and tag carries NO zones — a provenance-
    // derived prune to the v>=900 zone survivors would silently drop
    // the grouped-only matches, so the family must decline
    val spec = QuerySpec(
      provenance = Seq(FieldClause("v", Predicates.Ge, "900",
        isText = false)),
      grouped = Seq(GroupClause(Seq("tag"), Predicates.Eq, "t1")),
      provenanceCombine = CombineOr)
    val (df, rep) = compileWithPruneReport(spec, cat)
    assert(rep.isEmpty,
      "an OR family with an UNINDEXED grouped member must not clause-prune")
    val want = compile(spec, cat.copy(skipping = None))
      .select("id").as[Long].collect().toSeq.sorted
    assert(df.select("id").as[Long].collect().toSeq.sorted == want)
    // the dangerous rows really exist: grouped-only matches below the
    // provenance range (they'd have been lost to the pre-fix prune)
    assert(want.exists(id => id % 97 * 10 < 900), "fixture must contain " +
      "rows matching only the grouped clause")
  }

  test("compiled routing: OR with a grouped clause PRUNES when every " +
      "member field is indexed — grouped-only rows survive and files skip") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    // v-clustered layout where tag and alt CORRELATE with v, so all
    // three columns carry tight per-file zones: the grouped clause
    // (tag|alt = t1) contributes its members' units to the survivor
    // union next to the provenance arm's
    val dir = tempDir("graft-zm").toString + "/data"
    (0L until 400L).map(i => (i, i, s"t${i / 50}", s"a${i / 80}"))
      .toDF("id", "v", "tag", "alt")
      .repartitionByRange(8, col("v"), col("id"))
      .write.parquet(dir)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(
      ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v", "tag", "alt")), statsPath)
    val cat = Catalog(entities = spark.read.parquet(dir), entityId = "id",
      skipping = Some(ZoneMaps.Layout(dir, statsLive = Some(statsPath))))
    val spec = QuerySpec(
      provenance = Seq(FieldClause("v", Predicates.Ge, "380",
        isText = false)),
      grouped = Seq(GroupClause(Seq("tag", "alt"), Predicates.Eq, "t1")),
      provenanceCombine = CombineOr)
    val (df, rep) = compileWithPruneReport(spec, cat)
    assert(rep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"fully-indexed OR + grouped must prune via survivor union: $rep")
    val want = compile(spec, cat.copy(skipping = None))
      .select("id").as[Long].collect().toSeq.sorted
    assert(df.select("id").as[Long].collect().toSeq.sorted == want)
    assert(want.exists(id => id < 380),
      "fixture must contain rows matching only the grouped clause")
    // NotEq grouped (an AND of negated members) still declines even
    // fully indexed — the union algebra cannot express it
    val neg = spec.copy(grouped = Seq(
      GroupClause(Seq("tag", "alt"), Predicates.NotEq, "t1")))
    assert(compileWithPruneReport(neg, cat)._2.isEmpty,
      "grouped NotEq must decline pruning")
    // AND combine: the grouped clause prunes as its own group even
    // alongside an unindexed provenance clause
    val andSpec = QuerySpec(
      grouped = Seq(GroupClause(Seq("tag", "alt"), Predicates.Eq, "t1")),
      provenanceCombine = CombineAnd)
    val (adf, arep) = compileWithPruneReport(andSpec, cat)
    assert(arep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"grouped clause under AND must prune as its own group: $arep")
    val awant = compile(andSpec, cat.copy(skipping = None))
      .select("id").as[Long].collect().toSeq.sorted
    assert(adf.select("id").as[Long].collect().toSeq.sorted == awant)
    assert(awant.nonEmpty)
  }

  test("compiled routing: an equality clause on the Bloom column prunes " +
      "via the Bloom and intersects with the zone survivors") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    // v-ordered layout: id zones span every file, only the Bloom prunes
    val rows = (0L until 400L).map(i => (i, (i * 37) % 400, s"t${i % 3}"))
    val dir = layout(rows)
    val base = tempDir("graft-zm").toString
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v")),
      s"$base/stats")
    ZoneMaps.saveStats(ZoneMaps.buildBloomStats(spark.read.parquet(dir), "id"),
      s"$base/bloom")
    val lay = ZoneMaps.Layout(dir, statsLive = Some(s"$base/stats"),
      bloomLive = Some(s"$base/bloom"), bloomCol = Some("id"))
    val cat = Catalog(entities = spark.read.parquet(dir), entityId = "id",
      skipping = Some(lay))
    val spec = QuerySpec(provenance = Seq(
      FieldClause("id", Predicates.Eq, "17", isText = false),
      FieldClause("v", Predicates.Ge, "0", isText = false)))
    val (df, report) = compileWithPruneReport(spec, cat)
    assert(report.exists(r => r.filesKept < r.filesTotal),
      s"bloom-backed equality must skip files: $report")
    assert(df.select("id").as[Long].collect().toSeq == Seq(17L))

    // S7 pasted-id-list routing: ANY-key Bloom pass — prunes, and the
    // downstream semi join still returns exactly the listed rows
    val listSpec = QuerySpec(idList = Some(Seq(17L, 391L)))
    val (ldf, lrep) = compileWithPruneReport(listSpec, cat)
    assert(lrep.exists(r => r.filesKept < r.filesTotal),
      s"id-list must prune via the Bloom: $lrep")
    assert(ldf.select("id").as[Long].collect().toSeq.sorted ==
      Seq(17L, 391L))
    // over-wide list: pruning declines (the semi join is the plan)
    val wide = QuerySpec(idList = Some((0L until 400L).toSeq))
    val (wdf, wrep) = compileWithPruneReport(wide, cat)
    assert(wrep.isEmpty, "an over-wide id list must not attempt pruning")
    assert(wdf.count() == 400L)
  }

  test("text zones are case-folded: a value whose UPPER sorts outside " +
      "the raw min/max must not be lost, and ci equality skips files") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = tempDir("graft-zm").toString + "/data"
    // two explicit files. File 1's RAW range is ["Banana", "cherry"]
    // (uppercase sorts before lowercase in binary order), so a raw-zone
    // probe for 'APPLE' ('apple' upper-cased) would fall OUTSIDE it and
    // wrongly prune the file that contains apple. Upper-cased zones
    // give ["APPLE", "CHERRY"] and keep it.
    Seq((1L, "apple", 10L), (2L, "Banana", 20L), (3L, "cherry", 30L))
      .toDF("id", "name", "v").coalesce(1).write.parquet(dir)
    Seq((4L, "xenon", 40L), (5L, "Yttrium", 50L))
      .toDF("id", "name", "v").coalesce(1).write.mode("append").parquet(dir)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("name")),
      statsPath)
    val cat = Catalog(entities = spark.read.parquet(dir), entityId = "id",
      skipping = Some(ZoneMaps.Layout(dir, statsLive = Some(statsPath))))
    val spec = QuerySpec(provenance =
      Seq(FieldClause("name", Predicates.Eq, "APPLE")))
    val (df, rep) = compileWithPruneReport(spec, cat)
    assert(rep.exists(r => r.filesKept == 1 && r.filesTotal == 2),
      s"ci equality must keep exactly the matching file: $rep")
    assert(df.select("id").as[Long].collect().toSeq == Seq(1L),
      "the case-folded zone must not lose the differently-cased match")
  }

  test("prefix pruning is half-open and ASCII-gated: an astral char " +
      "after the prefix survives, a non-ASCII prefix declines") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = tempDir("graft-zm").toString + "/data"
    val emoji = new String(Character.toChars(0x1F600))
    // one file whose only AB-prefixed value continues with an astral
    // character: in UTF-8 byte order "AB😀X" > "AB￿", so a CLOSED
    // [P, P+'￿'] zone test would prune this file and lose the row
    Seq((1L, s"ab${emoji}x"), (2L, s"ab${emoji}z"))
      .toDF("id", "name").coalesce(1).write.parquet(dir)
    Seq((3L, "zz1"), (4L, "zz2"))
      .toDF("id", "name").coalesce(1).write.mode("append").parquet(dir)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("name")),
      statsPath)
    val cat = Catalog(entities = spark.read.parquet(dir), entityId = "id",
      skipping = Some(ZoneMaps.Layout(dir, statsLive = Some(statsPath))))
    val spec = QuerySpec(provenance =
      Seq(FieldClause("name", Predicates.StartsWith, "ab")))
    val (df, rep) = compileWithPruneReport(spec, cat)
    assert(rep.exists(r => r.filesKept == 1 && r.filesTotal == 2),
      s"the zz file must prune, the astral-suffix file must survive: $rep")
    assert(df.select("id").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
    // a prefix that is itself non-ASCII cannot build an exact successor
    // — pruning declines (transparent fallback), rows still correct
    val nonAscii = QuerySpec(provenance =
      Seq(FieldClause("name", Predicates.StartsWith, s"ab$emoji")))
    val (ndf, nrep) = compileWithPruneReport(nonAscii, cat)
    assert(nrep.isEmpty, "non-ASCII prefix must decline pruning")
    assert(ndf.select("id").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
  }

  test("date zones prune day intervals: a quarter's clause skips the " +
      "other quarters' files and rows match the plain filter") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = tempDir("graft-zm").toString + "/data"
    val days = (0 until 360).map(d =>
      (d.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.of(1995, 1, 1).plusDays(d.toLong))))
    days.toDF("id", "day")
      .repartitionByRange(6, col("day"), col("id"))
      .write.parquet(dir)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("day")),
      statsPath)
    val cat = Catalog(entities = spark.read.parquet(dir), entityId = "id",
      skipping = Some(ZoneMaps.Layout(dir, statsLive = Some(statsPath))))
    val spec = QuerySpec(provenance = Seq(
      FieldClause("day", Predicates.Ge, "1995-04-01", isText = false),
      FieldClause("day", Predicates.Le, "1995-06-30", isText = false)))
    val (df, rep) = compileWithPruneReport(spec, cat)
    assert(rep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"a date range clause must skip files: $rep")
    val want = spark.read.parquet(dir)
      .filter(col("day").between("1995-04-01", "1995-06-30"))
      .select("id").as[Long].collect().toSeq.sorted
    assert(df.select("id").as[Long].collect().toSeq.sorted == want)
    assert(want.size == 91)
  }

  test("stats memo evicts superseded versions: a republish-per-batch " +
      "stream session holds at most one live entry per artifact") {
    val rows = (0L until 60L).map(i => (i, i, "t"))
    val dir = layout(rows, parts = 2)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    (1 to 4).foreach { _ =>
      ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v")),
        statsPath)
      assert(ZoneMaps.loadArtifact(spark, statsPath).nonEmpty)
    }
    assert(ZoneMaps.cachedVersionsOf(spark, statsPath) <= 1,
      "older versions' memo entries must evict when a newer one lands")
  }

  test("persisted stats serve across a publish: load equals build, and a " +
      "refresh flips atomically") {
    val rows = (0L until 100L).map(i => (i, i * 3, "t"))
    val dir = layout(rows, parts = 4)
    val statsPath = tempDir("graft-zm")
      .toString + "/stats"
    val built = ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v"))
    ZoneMaps.saveStats(built, statsPath)
    val loaded = ZoneMaps.loadStats(spark, statsPath)
    assert(loaded.orderBy("file").collect().toSeq ==
      built.orderBy("file").collect().toSeq,
      "stats must round-trip parquet exactly")
    // refresh after a layout change publishes new stats; old version
    // survives under the N-1 pointer convention
    ZoneMaps.saveStats(ZoneMaps.buildStats(spark.read.parquet(dir), Seq("v", "id")),
      statsPath)
    // (file, rows) + per col: min, max, nulls
    assert(ZoneMaps.loadStats(spark, statsPath).columns.length == 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(statsPath + ".v1")))
  }
}
