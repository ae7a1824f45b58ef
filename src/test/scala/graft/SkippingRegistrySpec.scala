package graft

import graft.sources.{SkippingRegistry, ZoneMaps}
import org.apache.spark.sql.functions._

/** The per-table skipping registry: artifacts ride with the table under
  * `_skipping/`, serving catalogs resolve the Layout from the table
  * itself, write paths refresh stats inline (delta-only), and a
  * registry-routed compile is identical to a hand-routed one.
  */
class SkippingRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-reg").toString + "/data"

  private def writeRows(dir: String, rows: Seq[(Long, Long, String)],
      parts: Int = 8, mode: String = "overwrite"): Unit =
    rows.toDF("id", "v", "tag")
      .repartitionByRange(parts, col("v"), col("id"))
      .write.mode(mode).parquet(dir)

  test("register publishes under _skipping, layoutFor resolves it, and " +
      "unregistered tables resolve None") {
    val dir = freshDir()
    writeRows(dir, (0L until 200L).map(i => (i, i * 5, s"t${i % 2}")))
    assert(SkippingRegistry.layoutFor(spark, dir).isEmpty,
      "pre-registration probe must be None")
    val lay = SkippingRegistry.register(spark, dir,
      zoneCols = Seq("v"), bloomCol = Some("id"))
    assert(lay.dataDir == dir)
    assert(lay.statsLive.contains(SkippingRegistry.statsLivePath(dir)))
    assert(lay.bloomCol.contains("id"))
    // register invalidated the earlier None memo (same JVM)
    assert(SkippingRegistry.layoutFor(spark, dir).contains(lay))
    // the _skipping child is INVISIBLE to data reads: the table's own
    // scan must see only its rows, not the stats artifacts
    assert(spark.read.parquet(dir).count() == 200L)
    assert(spark.read.parquet(dir).columns.toSeq == Seq("id", "v", "tag"))
  }

  test("registry-routed compile equals hand-routed: same survivors, " +
      "same rows, same prune accounting") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = freshDir()
    writeRows(dir, (0L until 400L).map(i => (i, i % 97 * 10, s"t${i % 3}")))
    SkippingRegistry.register(spark, dir,
      zoneCols = Seq("v"), bloomCol = Some("id"))
    val spec = QuerySpec(provenance = Seq(
      FieldClause("v", Predicates.Ge, "200", isText = false),
      FieldClause("v", Predicates.Le, "350", isText = false)))
    val (regDf, regRep) = compileWithPruneReport(spec,
      registryCatalog(spark, dir, "id"))
    val hand = ZoneMaps.Layout(dir,
      statsLive = Some(SkippingRegistry.statsLivePath(dir)),
      bloomLive = Some(SkippingRegistry.bloomLivePath(dir)),
      bloomCol = Some("id"))
    val (handDf, handRep) = compileWithPruneReport(spec,
      Catalog(entities = spark.read.parquet(dir), entityId = "id",
        skipping = Some(hand)))
    assert(regRep == handRep, "prune accounting must match")
    assert(regRep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSeq.sorted
    assert(ids(regDf) == ids(handDf))
    assert(ids(regDf).nonEmpty)
  }

  test("appendFiles refreshes both artifacts inline: post-ingest reads " +
      "prune AND serve the appended rows; bloom append equals rebuild") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = freshDir()
    writeRows(dir, (0L until 200L).map(i => (i, i, "old")), parts = 4)
    SkippingRegistry.register(spark, dir,
      zoneCols = Seq("v"), bloomCol = Some("id"))
    SkippingRegistry.appendFiles(
      (200L until 300L).map(i => (i, i, "new")).toDF("id", "v", "tag")
        .repartitionByRange(2, col("v"), col("id")),
      dir)
    // the range clause lands ENTIRELY in the appended files: a stale
    // survivor list (stats nobody refreshed) would return zero rows
    val spec = QuerySpec(provenance = Seq(
      FieldClause("v", Predicates.Ge, "250", isText = false)))
    val (df, rep) = compileWithPruneReport(spec,
      registryCatalog(spark, dir, "id"))
    assert(rep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"post-ingest compile must still prune: $rep")
    assert(df.select("id").as[Long].collect().toSeq.sorted ==
      (250L until 300L),
      "appended rows must be served through the refreshed stats")
    // a Bloom point probe on an APPENDED id also works (bloom refreshed
    // with the artifact's own constants)
    val pointSpec = QuerySpec(provenance = Seq(
      FieldClause("id", Predicates.Eq, "275", isText = false)))
    val (pdf, prep) = compileWithPruneReport(pointSpec,
      registryCatalog(spark, dir, "id"))
    assert(prep.exists(r => r.filesKept < r.filesTotal))
    assert(pdf.select("id").as[Long].collect().toSeq == Seq(275L))
    // incremental bloom ≡ full rebuild at the artifact's constants
    val appended = ZoneMaps.loadStats(spark,
      SkippingRegistry.bloomLivePath(dir))
    val m = appended.select("m_bits").head().getLong(0)
    val k = appended.select("k").head().getInt(0)
    val rebuilt = ZoneMaps.buildBloomStats(spark.read.parquet(dir), "id", m, k)
    assert(appended.orderBy("file", "word_idx").collect().toSeq ==
      rebuilt.orderBy("file", "word_idx").collect().toSeq,
      "bloom append must equal the full rebuild row-for-row")
    // idempotent: a refresh with no new files republishes nothing
    val liveBefore = graft.operators.CacheRefresh.resolveLive(spark,
      SkippingRegistry.bloomLivePath(dir))
    SkippingRegistry.refresh(spark, dir)
    // zone stats DO republish idempotently (appendStats contract); the
    // bloom pointer must not have moved for an empty delta
    assert(graft.operators.CacheRefresh.resolveLive(spark,
      SkippingRegistry.bloomLivePath(dir)) == liveBefore)
  }

  test("StatsStream: a MemoryStream-maintained table prunes like a " +
      "batch-built one, and a replayed batch adds nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = freshDir()
    writeRows(dir, (0L until 100L).map(i => (i, i, "base")), parts = 4)
    SkippingRegistry.register(spark, dir,
      zoneCols = Seq("v"), bloomCol = Some("id"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.StatsStream.maintain(
      stream.toDS().toDF("id", "v", "tag"), dir)
    try {
      (0 until 3).foreach { c =>
        stream.addData((100L until 160L).filter(_ % 3 == c.toLong)
          .map(i => (i, i, "streamed")))
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(SkippingRegistry.appliedBatch(spark, dir).contains(2L))
    // a range clause landing ENTIRELY in streamed rows prunes AND
    // serves them — the stats the stream maintained are live
    val spec = QuerySpec(provenance = Seq(
      FieldClause("v", Predicates.Ge, "130", isText = false)))
    val (df, rep) = compileWithPruneReport(spec,
      registryCatalog(spark, dir, "id"))
    assert(rep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"stream-maintained stats must prune: $rep")
    assert(df.select("id").as[Long].collect().toSeq.sorted ==
      (130L until 160L))
    // replayed batchId: maintainStep must skip — no new version, no
    // duplicated rows
    val statsBefore = graft.operators.CacheRefresh.resolveLive(spark,
      SkippingRegistry.statsLivePath(dir))
    graft.streaming.StatsStream.maintainStep(
      (100L until 160L).filter(_ % 3 == 2).map(i => (i, i, "streamed"))
        .toDF("id", "v", "tag"), 2L, dir)
    assert(graft.operators.CacheRefresh.resolveLive(spark,
      SkippingRegistry.statsLivePath(dir)) == statsBefore,
      "a replayed batch must not republish")
    assert(spark.read.parquet(dir).count() == 160L,
      "a replayed batch must not duplicate data")
  }

  test("case-folded text Bloom: ci point probes skip files with no " +
      "false negatives; a raw artifact declines ci probes transparently") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = freshDir()
    // high-cardinality MIXED-CASE text key, scattered under the v order
    // (upper-cased zones span every file — only the Bloom can prune)
    (0L until 400L).map(i => (i, (i * 37) % 400, s"Key$i"))
      .toDF("id", "v", "name")
      .repartitionByRange(8, col("v"), col("id"))
      .write.parquet(dir)
    SkippingRegistry.register(spark, dir,
      zoneCols = Seq("v"), bloomCol = Some("name"))
    assert(ZoneMaps.loadArtifact(spark, SkippingRegistry.bloomLivePath(dir))
      .flatMap(_.bloom).exists(_.folded),
      "a STRING key column must build a case-folded artifact")
    val cat = registryCatalog(spark, dir, "id")
    // the probe is cased differently from BOTH the stored value and
    // its upper form — the artifact-driven fold must reconcile them
    val spec = QuerySpec(provenance =
      Seq(FieldClause("name", Predicates.Eq, "kEy17")))
    val (df, rep) = compileWithPruneReport(spec, cat)
    assert(rep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"a ci equality on the folded Bloom column must skip files: $rep")
    assert(df.select("id").as[Long].collect().toSeq == Seq(17L),
      "case folding must never lose the differently-cased match")
    // a ci probe against a RAW (numeric-keyed, unfolded) artifact is
    // unservable — transparent fallback, identical rows
    val rawDir = freshDir()
    (0L until 100L).map(i => (i, i, s"t${i % 3}")).toDF("id", "v", "tag")
      .repartitionByRange(4, col("v"), col("id")).write.parquet(rawDir)
    SkippingRegistry.register(spark, rawDir,
      zoneCols = Seq("v"), bloomCol = Some("id"))
    val rawCat = registryCatalog(spark, rawDir, "id")
    val ciOnId = QuerySpec(provenance =
      Seq(FieldClause("id", Predicates.Eq, "17"))) // isText = true (ci)
    val (rdf, rrep) = compileWithPruneReport(ciOnId, rawCat)
    assert(rrep.isEmpty,
      "a ci key must not probe a raw-cased artifact (false negatives)")
    assert(rdf.select("id").as[Long].collect().toSeq == Seq(17L))
    // the same clause marked non-text probes the raw artifact fine
    val rawEq = QuerySpec(provenance =
      Seq(FieldClause("id", Predicates.Eq, "17", isText = false)))
    val (ndf, nrep) = compileWithPruneReport(rawEq, rawCat)
    assert(nrep.exists(r => r.filesKept < r.filesTotal))
    assert(ndf.select("id").as[Long].collect().toSeq == Seq(17L))
  }

  test("null-count zones: the null literal prunes — IS NULL keeps only " +
      "null-bearing files, IS NOT NULL the complement, rows exact") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val dir = freshDir()
    // nulls clustered first by the range partitioner: later files
    // carry zero nulls, the first file(s) are all-null
    (0L until 300L).map(i =>
        (i, if (i % 3 == 0) None else Some(s"tag${i % 5}"), i))
      .toDF("id", "opt", "v")
      .repartitionByRange(6, col("opt"), col("id"))
      .write.parquet(dir)
    SkippingRegistry.register(spark, dir, zoneCols = Seq("opt"))
    val cat = registryCatalog(spark, dir, "id")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSeq.sorted
    val isNull = QuerySpec(provenance =
      Seq(FieldClause("opt", Predicates.Eq, "null")))
    val (ndf, nrep) = compileWithPruneReport(isNull, cat)
    assert(nrep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"IS NULL must skip the null-free files: $nrep")
    assert(ids(ndf) == (0L until 300L).filter(_ % 3 == 0))
    val notNull = QuerySpec(provenance =
      Seq(FieldClause("opt", Predicates.NotEq, "null")))
    val (pdf, prep) = compileWithPruneReport(notNull, cat)
    assert(prep.exists(r => r.filesKept < r.filesTotal && r.filesKept > 0),
      s"IS NOT NULL must skip the all-null files: $prep")
    assert(ids(pdf) == (0L until 300L).filterNot(_ % 3 == 0))
  }

  test("fact-table skipping: designation clauses prune the fact's file " +
      "list and the plan equals the unpruned compile (AND and OR, " +
      "LocusMissing included); other fact families decline") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val factDir = freshDir()
    // fact: (entity, locus, allele) locus-clustered — 8 loci, 8 files
    val facts = (0L until 800L).map(i => (i % 100, i % 8, (i % 50).toString))
    facts.toDF("entity_id", "locus", "allele")
      .repartitionByRange(8, col("locus"), col("entity_id"))
      .write.parquet(factDir)
    SkippingRegistry.register(spark, factDir, zoneCols = Seq("locus"))
    val entities = (0L until 100L).map(i => (i, s"e$i"))
      .toDF("id", "name")
    def cat(sk: Option[ZoneMaps.Layout]) = Catalog(
      entities = entities, entityId = "id",
      facts = Some(spark.read.parquet(factDir)),
      factEntityId = "entity_id", locusCol = "locus",
      alleleCol = "allele", factSkipping = sk)
    val lay = SkippingRegistry.layoutFor(spark, factDir)
    assert(lay.nonEmpty)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSeq.sorted
    for (combine <- Seq(CombineAnd, CombineOr)) {
      val spec = QuerySpec(designations = Seq(
        HasAllele(2, Predicates.Eq, "10"),
        LocusMissing(5)),
        designationCombine = combine)
      val (df, reps) = compileWithPruneReports(spec, cat(lay))
      assert(reps.facts.exists(r =>
        r.filesKept < r.filesTotal && r.filesKept > 0),
        s"designation compile must skip fact files ($combine): $reps")
      assert(ids(df) == ids(compile(spec, cat(None))),
        s"pruned fact plan must equal the unpruned plan ($combine)")
      assert(ids(df).nonEmpty)
    }
    // a count clause also consumes the fact — pruning must decline
    val withCounts = QuerySpec(
      designations = Seq(HasAllele(2, Predicates.Eq, "10")),
      counts = Seq(CountClause(Predicates.Ge, 1)))
    val (cdf, creps) = compileWithPruneReports(withCounts, cat(lay))
    assert(creps.facts.isEmpty,
      "fact pruning must decline when counts also read the fact")
    assert(ids(cdf) == ids(compile(withCounts, cat(None))))
    // registry-resolved attachment ≡ the hand-wired catalog: same rows,
    // same pruning — no hand-built Layout needed anywhere
    val regSpec = QuerySpec(designations = Seq(
      HasAllele(2, Predicates.Eq, "10"), LocusMissing(5)))
    val regCat = withRegistryFacts(spark,
      Catalog(entities = entities, entityId = "id"),
      factDir, factEntityId = "entity_id")
    val (rdf, rreps) = compileWithPruneReports(regSpec, regCat)
    assert(rreps.facts.exists(r => r.filesKept < r.filesTotal))
    assert(ids(rdf) == ids(compile(regSpec, cat(None))),
      "registry-resolved fact catalog must equal the hand-wired one")
  }

  test("EAV fact skipping: F7 clauses prune the field-clustered fact " +
      "(negation included) and the plan equals the unpruned compile") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val eavDir = freshDir()
    // long-format sparse fields, FIELD-clustered (the reference's
    // per-(isolate, field) eav_* indexes at file granularity)
    val rows = (0L until 800L).map(i =>
      (i % 100, s"f${i % 8}", s"v${i % 13}"))
    rows.toDF("entity_id", "field", "value")
      .repartitionByRange(8, col("field"), col("entity_id"))
      .write.parquet(eavDir)
    SkippingRegistry.register(spark, eavDir, zoneCols = Seq("field"))
    val entities = (0L until 100L).map(i => (i, s"e$i")).toDF("id", "name")
    val regCat = withRegistryEav(spark,
      Catalog(entities = entities, entityId = "id"), eavDir)
    val plain = regCat.copy(eavSkipping = None)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSeq.sorted
    val spec = QuerySpec(eav = Seq(
      EavClause("f2", Predicates.Eq, "v5"),
      EavClause("f6", Predicates.StartsWith, "v3", negate = true)))
    val (df, reps) = compileWithPruneReports(spec, regCat)
    assert(reps.eav.exists(r => r.filesKept < r.filesTotal &&
      r.filesKept > 0), s"EAV compile must skip fact files: $reps")
    assert(ids(df) == ids(compile(spec, plain)),
      "pruned EAV plan must equal the unpruned plan")
    assert(ids(df).nonEmpty)
    // negation-sensitive check: some entity is kept ONLY because its
    // f6 rows fail the negated predicate everywhere — a lost f6 file
    // would wrongly keep extra entities
    val negOnly = QuerySpec(eav = Seq(
      EavClause("f6", Predicates.Eq, "v3", negate = true)))
    val (ndf, nreps) = compileWithPruneReports(negOnly, regCat)
    assert(ids(ndf) == ids(compile(negOnly, plain)),
      "negated-clause pruning must not change the kept set")
    assert(nreps.eav.nonEmpty)
  }

  test("tag fact skipping: membership and per-locus counts prune the " +
      "locus-clustered fact; an unscoped count declines") {
    import graft.api.QueryCompiler._
    import graft.operators.Predicates
    val tagDir = freshDir()
    val rows = (0L until 800L).map(i =>
      (i % 100, (i % 8).toInt, i % 2 == 0,
        if (i % 5 == 0) "flagged" else null))
    rows.toDF("entity_id", "locus", "complete", "flag")
      .repartitionByRange(8, col("locus"), col("entity_id"))
      .write.parquet(tagDir)
    SkippingRegistry.register(spark, tagDir, zoneCols = Seq("locus"))
    val entities = (0L until 100L).map(i => (i, s"e$i")).toDF("id", "name")
    val regCat = withRegistryTags(spark,
      Catalog(entities = entities, entityId = "id"), tagDir)
    val plain = regCat.copy(tagSkipping = None)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSeq.sorted
    val spec = QuerySpec(
      tags = Seq(TagClause(Some(2), TagComplete),
        TagClause(Some(5), Untagged)),
      tagCounts = Seq(TagCountClause(Predicates.Ge, 1, Some(3))))
    val (df, reps) = compileWithPruneReports(spec, regCat)
    assert(reps.tags.exists(r => r.filesKept < r.filesTotal &&
      r.filesKept > 0), s"tag compile must skip fact files: $reps")
    assert(ids(df) == ids(compile(spec, plain)),
      "pruned tag plan must equal the unpruned plan")
    // a locus-unscoped count consumes every fact row — decline
    val unscoped = QuerySpec(
      tags = Seq(TagClause(Some(2), Tagged)),
      tagCounts = Seq(TagCountClause(Predicates.Ge, 1)))
    val (udf, ureps) = compileWithPruneReports(unscoped, regCat)
    assert(ureps.tags.isEmpty,
      "tag pruning must decline under an unscoped count clause")
    assert(ids(udf) == ids(compile(unscoped, plain)))
  }

  test("manifest: a reader racing 20 re-registrations reads a manifest " +
      "every time — the replace leaves no gap") {
    val dir = freshDir()
    writeRows(dir, (0L until 40L).map(i => (i, i, "t")), parts = 2)
    SkippingRegistry.register(spark, dir, zoneCols = Seq("v"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val misses = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() =>
      while (!stop.get) {
        // a read that throws (the file vanished between exists and
        // open) saw no manifest too
        val seen = try SkippingRegistry.readManifest(spark, dir).nonEmpty
          catch { case _: java.io.IOException => false }
        if (!seen) misses.incrementAndGet()
        reads.incrementAndGet()
      })
    reader.start()
    try (1 to 20).foreach(i => SkippingRegistry.register(spark, dir,
      zoneCols = if (i % 2 == 0) Seq("v") else Seq("v", "id")))
    finally { stop.set(true); reader.join() }
    assert(reads.get > 0)
    assert(misses.get == 0,
      s"${misses.get} of ${reads.get} reads saw no manifest")
  }
}
