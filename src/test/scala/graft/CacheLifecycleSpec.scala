package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.operators.{Clustering, Crossover, Pinning}
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Block-manager hygiene (VERDICT r8 #3): library operators must not
  * leak storage past their own lifetime. Two failure modes are pinned:
  *
  *   1. A plan-keyed `.cache()` registers a SESSION-LIFETIME CacheManager
  *      entry nothing ever unpersists — entries accumulate per distinct
  *      (corpus, params) plan and become the eviction pressure that made
  *      r8's bench numbers nondeterministic. Library operators therefore
  *      use per-call [[Pinning]] pins; the only CacheManager entries
  *      allowed are memoized frames registered through
  *      [[SessionMemo.cached]] (Tables.load, the profile warehouse/ST
  *      dimension, query-layer memos), which live until their session's
  *      SparkContext stops and register again after a `clearCache()`.
  *      A query keeps no entry of its own, and a memoized pin holds only
  *      its result: the MinHash pair memo keeps the pair rows, not the
  *      signatures they were built from.
  *   2. An iterative loop that pins every round but frees none holds
  *      rounds × state blocks at peak instead of ~2 × state.
  *
  * These specs run each operator or query to completion and then count
  * what it left behind; the query cases read a private copy of the
  * sf0.001 corpus, so every memo they touch is their own.
  */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def docsFixture = {
    val rnd = new scala.util.Random(13)
    val vocab = ('a' to 'z').map(_.toString * 3)
    (0L until 30L).map { i =>
      (i, Seq.fill(14)(vocab(rnd.nextInt(26))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def vecsFixture = {
    val rnd = new scala.util.Random(5)
    (0L until 30L).map(i =>
      (i, Seq.fill(6)(rnd.nextDouble() * 2 - 1).map(_.toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def edgesFixture = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L),
    (20L, 21L), (30L, 31L), (31L, 32L))
    .toDF("src", "dst")

  private def pinnedCount = spark.sparkContext.getPersistentRDDs.size

  private def persistedIds = spark.sparkContext.getPersistentRDDs.keySet

  private def cacheEntries = ColumnBridge.cachedPlanSummaries(spark).size

  private lazy val dir = corpusCopy("cache-lifecycle")

  private def query(name: String) =
    queries.AllQueries.modules.flatMap(_.qs).find(_.name == name).get
      .fn(spark, dir)

  test("library operators register no CacheManager entries") {
    // start from a clean CacheManager: entries present here belong to
    // session memos (Tables.load etc.) of other suites — those register
    // again on next use, so clearing is safe and makes isEmpty exact
    spark.catalog.clearCache()
    val docs = docsFixture
    val vecs = vecsFixture

    Dedup.minhashLsh(docs, "doc_id", "text", shingleN = 2, k = 16,
      bands = 8, minEstJaccard = 0.2).count()
    Dedup.incrementalNearDup(docs.filter(col("doc_id") < 20),
      docs.filter(col("doc_id") >= 20), "doc_id", "text", shingleN = 2,
      k = 16, bands = 8, minEstJaccard = 0.2).count()
    Dedup.prefixFilterPairs(docs, "doc_id",
      Dedup.shingles(col("text"), 2), t = 0.2).count()
    Similarity.lshTopK(vecs, vecs, "vec_id", "embedding", dim = 6, k = 3,
      bits = 4, tables = 2).count()
    Similarity.mutualKnnGraph(vecs, "vec_id", "embedding", k = 3,
      nlist = 4, nprobe = 2).count()
    TextAnalysis.unigramSurprisal(docs, "doc_id", "text").count()
    // the fixtures fit every crossover budget: force the pinned loops
    Crossover.distributed {
      Similarity.nnDescent(vecs, "vec_id", "embedding", k = 3, nlist = 4,
        nprobe = 2, maxRounds = 2).count()
      Similarity.labelPropagate(edgesFixture, "src", "dst", rounds = 2).count()
      Similarity.pagerankInt(edgesFixture, "src", "dst", rounds = 2).count()
      Clustering.connectedComponents(edgesFixture).count()
      Clustering.minimumSpanningForest(
        edgesFixture.withColumn("weight", (col("src") + col("dst")) % 5)).count()
    }

    assert(ColumnBridge.cacheManagerIsEmpty(spark),
      "an operator registered a session-lifetime CacheManager entry")
  }

  test("iterative loops free superseded rounds (block count stays ~flat)") {
    // the fixtures fit every crossover budget: force the pinned loops
    Crossover.distributed {
      val base = pinnedCount

      val cc = Clustering.connectedComponents(edgesFixture)
      cc.count()
      assert(pinnedCount - base <= 1,
        s"connectedComponents left ${pinnedCount - base} pinned RDDs (want <=1: final labels)")
      Pinning.unpin(cc)

      val pr = Similarity.pagerankInt(edgesFixture, "src", "dst", rounds = 6)
      pr.count()
      assert(pinnedCount - base <= 1,
        s"pagerankInt left ${pinnedCount - base} pinned RDDs (want <=1: final ranks)")
      Pinning.unpin(pr)

      val lp = Similarity.labelPropagate(edgesFixture, "src", "dst", rounds = 5)
      lp.count()
      assert(pinnedCount - base <= 1,
        s"labelPropagate left ${pinnedCount - base} pinned RDDs (want <=1: final labels)")
      Pinning.unpin(lp)

      val nnd = Similarity.nnDescent(vecsFixture, "vec_id", "embedding", k = 3,
        nlist = 4, nprobe = 2, maxRounds = 4)
      nnd.count()
      assert(pinnedCount - base <= 1,
        s"nnDescent left ${pinnedCount - base} pinned RDDs (want <=1: final lists)")
      Pinning.unpin(nnd)

      val msf = Clustering.minimumSpanningForest(
        edgesFixture.withColumn("weight", (col("src") * 7 + col("dst")) % 5))
      msf.count()
      assert(pinnedCount - base <= 1,
        s"minimumSpanningForest left ${pinnedCount - base} pinned RDDs (want <=1: the forest)")
      Pinning.unpin(msf)

      val core = Similarity.corenessHIndex(edgesFixture, "src", "dst", rounds = 3)
      core.count()
      assert(pinnedCount - base <= 1,
        s"corenessHIndex left ${pinnedCount - base} pinned RDDs (want <=1: the result)")
      Pinning.unpin(core)

      // <= not ==: the ContextCleaner may concurrently GC stray blocks
      // other suites' dropped results were holding at baseline time
      assert(pinnedCount <= base,
        "unpinning every returned frame must restore the baseline")
    }
  }

  test("round-9 edge branches: empty eager prefix join; zero-round loops " +
      "keep their lazy result readable") {
    import org.apache.spark.sql.functions.col
    // empty corpus through the EAGER path: the byte-estimate agg must
    // coalesce to 0 (not NPE on a null sum) and return an empty pair list
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Dedup.prefixFilterPairs(empty, "doc_id",
      Dedup.shingles(col("text"), 2), t = 0.2)
    assert(got.count() == 0)
    // rounds = 0: the returned frame is LAZY over the pinned graph —
    // the unpin-inputs guard must NOT fire (a freed localCheckpoint is
    // unrecomputable, so a premature unpin would throw on this count)
    // (forced distributed: on the driver-local path there is no pin)
    val (lp0, pr0) = Crossover.distributed((
      Similarity.labelPropagate(edgesFixture, "src", "dst", rounds = 0),
      Similarity.pagerankInt(edgesFixture, "src", "dst", rounds = 0)))
    assert(lp0.count() > 0)
    assert(pr0.count() > 0)
  }

  test("ivfPqTopK eager call leaves only its pinned result") {
    val base = pinnedCount
    val vecs = vecsFixture
    val got = Similarity.ivfPqTopK(vecs, vecs.filter(col("vec_id") < 4),
      "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2,
      m = 2, dim = 6, kCodes = 4, iters = 1)
    assert(got.count() > 0)
    // the residual materialization must already be freed; only the
    // returned result's pin may remain. Upper bounds only: the
    // ContextCleaner reclaims PRIOR tests' dead pins asynchronously, so
    // the baseline can shrink underneath an equality check.
    assert(pinnedCount <= base + 1,
      s"expected at most one surviving pin, base=$base now=$pinnedCount")
    Pinning.unpin(got)
    assert(pinnedCount <= base,
      s"unpinning the returned frame must leave no net growth, " +
        s"base=$base now=$pinnedCount")
  }

  test("prefixFilterPairs eager call leaves only its checkpointed result") {
    val base = pinnedCount
    val pairs = Dedup.prefixFilterPairs(docsFixture, "doc_id",
      Dedup.shingles(col("text"), 2), t = 0.2)
    pairs.count()
    assert(pinnedCount - base <= 1,
      s"left ${pinnedCount - base} pinned RDDs (want <=1: the pair list)")
    Pinning.unpin(pairs)
    assert(pinnedCount <= base)
  }

  test("dedup_minhash_lsh keeps one pin beyond the documents cache and " +
      "serves the same rows after clearCache()") {
    Tables.load(spark, dir, "documents").count()
    val before = persistedIds
    val first = rows(query("dedup_minhash_lsh"))
    assert(first.nonEmpty)
    // the corpus fits the crossover budget: the pairs are a local frame
    val added = persistedIds -- before
    assert(added.isEmpty,
      s"want no pin on the local path, got ${added.size} new persisted RDDs")
    spark.catalog.clearCache()
    assert(rows(query("dedup_minhash_lsh")) == first)
    // the distributed path keeps exactly the pair pin
    val distDir = corpusCopy("cache-lifecycle-dist")
    Tables.load(spark, distDir, "documents").count()
    val beforeDist = persistedIds
    val dist = Crossover.distributed(rows(
      queries.AllQueries.modules.flatMap(_.qs)
        .find(_.name == "dedup_minhash_lsh").get.fn(spark, distDir)))
    val addedDist = persistedIds -- beforeDist
    assert(addedDist.size == 1,
      s"want only the pair pin, got ${addedDist.size} new persisted RDDs")
    assert(dist == first)
  }

  test("dedup_ngram_jaccard adds no CacheManager entry") {
    Tables.load(spark, dir, "documents")
    val before = cacheEntries
    assert(rows(query("dedup_ngram_jaccard")).nonEmpty)
    assert(cacheEntries == before,
      ColumnBridge.cachedPlanSummaries(spark).mkString("\n"))
  }

  test("memoized frames register again after clearCache()") {
    import graft.queries.{DedupQueries, MiscQueries, ProfileQueries}
    val memos: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "Tables.load" -> (() => Tables.load(spark, dir, "lineitem")),
      "Profiles.cachedWarehouse" -> (() => ProfileQueries.wh(spark, dir)),
      "Profiles.cachedStDim" -> (() => graft.operators.Profiles.cachedStDim(
        s"$dir/full", ProfileQueries.wh(spark, dir), "l_orderkey")),
      "DedupQueries.clusterVerdicts" ->
        (() => DedupQueries.clusterVerdicts(spark, dir)),
      "MiscQueries.staleCache" -> (() => MiscQueries.staleCache(spark, dir)))
    def unregistered = memos.collect {
      case (name, frame) if frame().storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE => name
    }
    assert(unregistered.isEmpty)
    spark.catalog.clearCache()
    assert(unregistered.isEmpty, "not registered again after clearCache()")
  }

  test("seeded-scan candidates and the API catalog register again after " +
      "clearCache()") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.storage.StorageLevel
    val contigs = Seq((1L, "ACGGGTTTACGAAACCCGT"), (2L, "GGGTTTGGGTTT"))
      .toDF("cid", "seq")
    val lib = Seq(("locusA", "1", "GGGTTT")).toDF("locus", "allele_id", "aseq")
    // the memoized candidate list is the scan's only cached relation
    def candidatesCached = operators.SeqScan.seededTagScan(contigs, "cid",
        "seq", lib, "locus", "allele_id", "aseq", k = 5)
      .queryExecution.withCachedData
      .collectWithSubqueries { case r: InMemoryRelation => r }.nonEmpty
    def catalogLevels = {
      val c = queries.ApiQueries.catalog(spark, dir)
      Seq(c.seqbinStats, c.schemeCache, c.variations).flatten
        .map(_.storageLevel)
    }
    assert(candidatesCached)
    assert(catalogLevels.size == 3 && !catalogLevels.contains(StorageLevel.NONE))
    spark.catalog.clearCache()
    assert(candidatesCached, "candidates not registered again")
    assert(!catalogLevels.contains(StorageLevel.NONE),
      "catalog frames not registered again")
  }
}
