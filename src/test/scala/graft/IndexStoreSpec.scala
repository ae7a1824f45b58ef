package graft

import graft.functions.Vectors.ShingleHash
import graft.pipeline.{IndexStore, Similarity}
import org.apache.spark.sql.functions._

/** Persisted-index fidelity and refresh semantics: a saved IVF index
  * served back through IndexStore.queryIvf must answer BIT-IDENTICALLY
  * to the in-session ivfTopK on the same corpus (parquet round-trips
  * the double arrays exactly; the scoring kernel is shared), and an
  * index REFRESH must inherit the snapshot-swap property — a query
  * planned against the old version completes against it while new
  * queries see the new index.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextInt(2000) / 1000.0 - 1.0)))
      .toDF("vec_id", "embedding")
  }

  private def live(name: String) =
    tempDir("graft-idx").toString + s"/$name"

  test("served index answers bit-identically to the in-session build") {
    val corpus = vecs(200, seed = 7)
    val queries = corpus.filter(col("vec_id") < 5)
    val path = live("ivf")
    IndexStore.saveIvf(corpus, "vec_id", "embedding", nlist = 8, path)
    val served = IndexStore.queryIvf(spark, path, queries, "vec_id",
        "embedding", k = 4, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val inSession = Similarity.ivfTopK(corpus, queries, "vec_id",
        "embedding", k = 4, nlist = 8, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(served == inSession, "round-tripped index must be bit-exact")
    assert(served.nonEmpty)
  }

  test("index refresh: in-flight query completes on the old version; " +
      "new queries see the new index") {
    val base = vecs(120, seed = 11)
    val path = live("ivf_refresh")
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 8, path)
    val queries = base.filter(col("vec_id") < 3)
    // plan a query against the CURRENT (old) version — lazy, not yet run
    val oldPlan = IndexStore.queryIvf(spark, path, queries, "vec_id",
      "embedding", k = 3, nprobe = 3)
    val oldExpected = oldPlan.as[(Long, Long, Double, Long)].collect().toSeq

    // refresh with a grown corpus (new vectors shift cell contents)
    val grown = base.unionByName(vecs(60, seed = 23)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    IndexStore.saveIvf(grown, "vec_id", "embedding", nlist = 8, path)

    // the old plan still scans its complete old snapshot (N-1 retention)
    val oldAfter = oldPlan.as[(Long, Long, Double, Long)].collect().toSeq
    assert(oldAfter == oldExpected,
      "query planned before the refresh must complete on the old index")

    // a fresh resolve serves the new index == in-session build on grown
    val newServed = IndexStore.queryIvf(spark, path, queries, "vec_id",
        "embedding", k = 3, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val newExpected = Similarity.ivfTopK(grown, queries, "vec_id",
        "embedding", k = 3, nlist = 8, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(newServed == newExpected)
    assert(newServed != oldExpected,
      "refresh fixture must actually change results")
  }

  test("persisted MinHash index verdicts == in-session incrementalNearDup") {
    // synthetic corpus with real near-dups: pairs (i, i+500) share most
    // words so signatures collide; others are distinct
    // doc i >= 40 near-dups doc (i+3) % 40 — offset 3 is coprime to the
    // %5 split so pairs cross the delta/base boundary
    // a copy above 40 reuses group (i+3) % 40 — offset 3 is coprime to
    // the %5 split so pairs cross the delta/base boundary; groups >= 30
    // get no copy, leaving genuinely clean docs on both sides
    val docs = (0 until 80).map { i =>
      val g = if (i < 40) i
              else if ((i + 3) % 40 < 30) (i + 3) % 40
              else i * 997
      val w = (0 until 12).map(j => s"w${g * 13 + j}").mkString(" ")
      (i.toLong, if (i < 40) w else w + " tail" + i)
    }.toDF("doc_id", "text")
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val path = live("mh")
    graft.pipeline.IndexStore.saveMinhash(base, "doc_id", "text",
      shingleN = 2, k = 32, bands = 8, maxBucketSize = 100,
      livePath = path, hasher = graft.functions.Vectors.ShingleHash.Md5Portable)
    val served = graft.pipeline.IndexStore.queryMinhash(spark, path, delta,
        "doc_id", "text", shingleN = 2, k = 32, bands = 8,
        minEstJaccard = 0.1,
        hasher = graft.functions.Vectors.ShingleHash.Md5Portable)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    val inSession = graft.pipeline.Dedup.incrementalNearDup(base, delta,
        "doc_id", "text", shingleN = 2, k = 32, bands = 8,
        minEstJaccard = 0.1, maxBucketSize = 100,
        hasher = graft.functions.Vectors.ShingleHash.Md5Portable)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(served == inSession, "parquet round trip must be bit-exact")
    assert(served.exists(r => r(4) == true), "fixture must contain dups")
    assert(served.exists(r => r(4) == false), "fixture must contain clean docs")
  }

  test("persisted tokenizer: loaded merges encode bit-identically; " +
      "refresh flips atomically to the retrained table") {
    import graft.pipeline.Tokenizer
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(10)(s"word${i % 7} stem${i % 5} tail${i % 3}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val merges = Tokenizer.bpeTrain(docs, "text", rounds = 6)
    val path = live("bpe")
    IndexStore.saveTokenizer(spark, merges, path)
    val loaded = IndexStore.loadTokenizer(spark, path)
    assert(loaded == merges, "merge table must round-trip parquet exactly")
    def encode(ms: Seq[Tokenizer.Merge]) = docs.select(col("doc_id"),
        Tokenizer.bpeTokenCount(col("text"), ms).as("n"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(encode(loaded) == encode(merges),
      "loaded artifact must encode bit-identically")
    // refresh: retrain on a grown corpus, publish — the pointer flips to
    // the new table and the old version survives (N-1 retention)
    val grown = docs.unionByName(
      Seq((100L, "brand new words appearing often often often"))
        .toDF("doc_id", "text"))
    val merges2 = Tokenizer.bpeTrain(grown, "text", rounds = 6)
    IndexStore.saveTokenizer(spark, merges2, path)
    assert(IndexStore.loadTokenizer(spark, path) == merges2)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + ".v1")),
      "N-1 version must survive the refresh")
  }

  test("appendMinhash: grown index == fresh build over base ∪ delta, " +
      "and near-dups of APPENDED docs flag") {
    import graft.pipeline.Dedup
    val base = (0 until 40).map(i =>
      (i.toLong, s"base document number $i with words alpha beta gamma " +
        s"delta epsilon zeta $i")).toDF("doc_id", "text")
    val appended = Seq(
      (100L, "freshly ingested unique content about spark catalyst rules"),
      (101L, "another admitted document mentioning parquet row groups"))
      .toDF("doc_id", "text")
    val path = live("mh_append")
    def q(probe: org.apache.spark.sql.DataFrame, p: String) =
      IndexStore.queryMinhash(spark, p, probe, "doc_id", "text",
          shingleN = 2, k = 32, bands = 8, minEstJaccard = 0.3,
          hasher = ShingleHash.Md5Portable)
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    IndexStore.saveMinhash(base, "doc_id", "text", shingleN = 2, k = 32,
      bands = 8, maxBucketSize = 100, livePath = path,
      hasher = ShingleHash.Md5Portable)
    // a near-copy of an APPENDED doc: the frozen base must miss it
    val probe = Seq((200L,
      "freshly ingested unique content about spark optimizer rules"))
      .toDF("doc_id", "text")
    val beforeAppend = q(probe, path)
    assert(beforeAppend.head(4) == false,
      "frozen base cannot know the not-yet-appended near-dup")
    IndexStore.appendMinhash(appended, "doc_id", "text", shingleN = 2,
      k = 32, bands = 8, maxBucketSize = 100, livePath = path,
      hasher = ShingleHash.Md5Portable)
    val afterAppend = q(probe, path)
    assert(afterAppend.head(4) == true &&
        afterAppend.head(2) == 100L,
      s"grown index must flag the appended near-dup: $afterAppend")
    // append ≡ rebuild, verdicts bit-identical
    val rebuilt = live("mh_rebuild")
    IndexStore.saveMinhash(base.unionByName(appended), "doc_id", "text",
      shingleN = 2, k = 32, bands = 8, maxBucketSize = 100,
      livePath = rebuilt, hasher = ShingleHash.Md5Portable)
    assert(q(probe, path) == q(probe, rebuilt),
      "appended index must answer exactly like a fresh build")
  }

  // ---- compaction: the lifecycle step after build + append ----

  /** The real degradation mechanism: the base is a NARROW SAMPLE (two
    * tight modes — its first-8 centroid seed spans almost no direction
    * space) while the appended delta is diverse (uniform random
    * directions). Frozen cells route the diverse delta through the
    * lopsided base centroids; retraining on the merged corpus spreads
    * the centroids into the delta's mass. (A single tight delta mode is
    * NOT fixable — k-means cannot split one mode — so that is correctly
    * not what this asserts.)
    */
  private def skewedCorpus(nDelta: Int) = {
    val rnd = new scala.util.Random(31)
    def noise(s: Double) = Seq.fill(8)((rnd.nextDouble() - 0.5) * s)
    def mode(j: Int) =
      noise(0.2).zipWithIndex.map { case (x, i) => if (i == j) 1.0 + x else x }
    val base = (0 until 12).map(i => (i.toLong, mode(i % 2)))
    val delta = (0 until nDelta).map(i => (100L + i, noise(2.0)))
    (base.toDF("vec_id", "embedding"), delta.toDF("vec_id", "embedding"))
  }

  test("compactIvf: skewed appends drift imbalance; compaction restores " +
      "balance and answers like a fresh trained build") {
    val (base, delta) = skewedCorpus(160)
    val path = live("ivf_compact")
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 8, path)
    graft.streaming.IndexStream.appendBatch(delta, "vec_id", "embedding",
      path)
    val before = IndexStore.ivfImbalance(spark, path)
    assert(before > 1.6,
      s"diverse appends through a narrow frozen seed must skew (got $before)")

    IndexStore.compactIvf(spark, path, k = 8, dim = 8, iters = 2)
    val after = IndexStore.ivfImbalance(spark, path)
    assert(after < 1.5,
      s"retrained cells must be more balanced ($before -> $after)")

    // invariant: compact(append(base, delta)) == fresh trained build on
    // the merged corpus, bit-identical
    val merged = base.unionByName(delta)
    val queries = merged.filter(col("vec_id") < 5)
    val compacted = IndexStore.queryIvf(spark, path, queries, "vec_id",
        "embedding", k = 4, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val fresh = Similarity.ivfTopK(merged, queries, "vec_id", "embedding",
        k = 4, nlist = 8, nprobe = 3,
        trained = Some(Similarity.kmeansTrain(merged, "vec_id", "embedding",
          k = 8, dim = 8, iters = 2)))
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(compacted == fresh,
      "compacted index must equal a fresh trained build bit-for-bit")
    assert(compacted.nonEmpty)

    // versioned publish: the pre-compaction version survives (N-1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + ".v2")),
      "pre-compaction version must survive the compaction publish")
  }

  test("compaction recovers ANN recall at the same probe budget — the " +
      "POINT of retraining, not just cell balance") {
    val (base, delta) = skewedCorpus(160)
    val path = live("ivf_recall")
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 8, path)
    graft.streaming.IndexStream.appendBatch(delta, "vec_id", "embedding",
      path)
    val merged = base.unionByName(delta)
    val queries = merged.filter(col("vec_id") >= 100L &&
      col("vec_id") < 110L)
    val truth = Similarity.bruteForceTopK(merged, queries, "vec_id",
        "embedding", 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall() = {
      val got = IndexStore.queryIvf(spark, path, queries, "vec_id",
          "embedding", k = 4, nprobe = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    // skewed frozen cells waste the probe budget on the lopsided base
    // structure (measured 0.60 on this fixture); retrained cells put the
    // same 2 probes where the data actually is (0.875)
    val before = recall()
    assert(before < 0.7, s"skewed index should have degraded recall: $before")
    IndexStore.compactIvf(spark, path, k = 8, dim = 8, iters = 2)
    val after = recall()
    assert(after > 0.8, s"compaction must recover recall: $before -> $after")
  }

  test("ivfImbalance: empty assigned table reads as balanced (1.0), " +
      "not an NPE") {
    // ADVICE r12: a freshly-created (or fully-pruned) index has an empty
    // assigned table; max/avg are NULL and the old getDouble threw an
    // opaque NullPointerException. Zero vectors = nothing to compact.
    val (base, _) = skewedCorpus(0)
    val path = live("ivf_empty")
    IndexStore.saveIvf(base.filter(col("vec_id") < 0), "vec_id",
      "embedding", nlist = 4, path)
    assert(IndexStore.ivfImbalance(spark, path) == 1.0)
    assert(!IndexStore.compactIfSkewed(spark, path, maxImbalance = 1.5,
      k = 4, dim = 8, iters = 1), "an empty index must not trigger compaction")
  }

  test("compactIfSkewed: triggers on drift, no-ops under the threshold") {
    val (base, delta) = skewedCorpus(160)
    val path = live("ivf_policy")
    IndexStore.saveIvf(base, "vec_id", "embedding", nlist = 8, path)
    graft.streaming.IndexStream.appendBatch(delta, "vec_id", "embedding",
      path)
    val drifted = IndexStore.ivfImbalance(spark, path)
    assert(!IndexStore.compactIfSkewed(spark, path,
        maxImbalance = drifted + 1.0, k = 8, dim = 8, iters = 2),
      "under-threshold index must not be rebuilt")
    assert(IndexStore.ivfImbalance(spark, path) == drifted,
      "a no-op policy check must leave the index untouched")
    assert(IndexStore.compactIfSkewed(spark, path,
        maxImbalance = drifted - 0.2, k = 8, dim = 8, iters = 2),
      "over-threshold index must compact")
    assert(IndexStore.ivfImbalance(spark, path) < drifted)
  }

  test("appendSubstr: grown index == fresh build over base ∪ delta, " +
      "affected sole-carrier docs recompute, others carry over") {
    import graft.pipeline.Dedup
    // crafted corpus: the 41-char span S is UNIQUE in the base (doc 1
    // is its sole carrier — zero spans in the base-only build); the
    // delta's doc 10 carries S too, so the append must RECOMPUTE doc
    // 1's report (its span appears) while doc 2's (untouched by the
    // delta) carries over byte-identically. Docs 3+4 share span T in
    // the base already (their reports must not change), and docs
    // 10+11 share the intra-batch span U (batch-internal dup detection
    // with no base involvement).
    val S = "the quick brown fox jumps over the lazy dog S!"
    val T = "pack my box with five dozen liquor jugs today T"
    val U = "sphinx of black quartz judge my vow right now U!"
    def pad(c: Char) = c.toString * 30
    val base = Seq(
      (1L, pad('a') + S + pad('b')),
      (2L, pad('c') + "no duplicated content lives here at all" + pad('d')),
      (3L, pad('e') + T + pad('f')),
      (4L, pad('g') + T + pad('h'))).toDF("doc_id", "text")
    val delta = Seq(
      (10L, pad('i') + S + pad('j') + U),
      (11L, pad('k') + U + pad('l'))).toDF("doc_id", "text")
    val path = live("substr")
    IndexStore.saveSubstr(base, "doc_id", "text", minLen = 40, path,
      hasher = Dedup.portableHash)
    def reports(p: String) =
      IndexStore.loadSubstrReports(spark, p).orderBy("doc_id")
        .as[(Long, Long, Long, Long, String)].collect().toSeq
    val baseOnly = reports(path)
    assert(baseOnly.find(_._1 == 1L).get._2 == 0L,
      "S is base-unique: doc 1 must have zero spans pre-append")
    assert(baseOnly.find(_._1 == 3L).get._2 == 1L,
      "T is a base dup: docs 3/4 carry a span already")
    IndexStore.appendSubstr(base, delta, "doc_id", "text", minLen = 40,
      path, hasher = Dedup.portableHash)
    val appended = reports(path)
    // one-shot over the union — THE contract
    val fresh = Dedup.substringDedup(base.unionByName(delta), "doc_id",
        "text", minLen = 40, hasher = Dedup.portableHash)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(appended == fresh,
      "append must equal the one-shot build over base ∪ delta")
    assert(appended.find(_._1 == 1L).get._2 >= 1L,
      "doc 1 (sole carrier made dup by the batch) must be recomputed")
    assert(appended.find(_._1 == 2L).get ==
      baseOnly.find(_._1 == 2L).get,
      "an unaffected doc's report must carry over untouched")
    assert(appended.find(_._1 == 10L).get._2 >= 2L &&
      appended.find(_._1 == 11L).get._2 >= 1L,
      "intra-batch dups (U) must be detected without base involvement")
    // hash stats VIEW (sum-capped over partial segments): append ≡
    // rebuild row-for-row
    def hview(p: String) = IndexStore.loadSubstrHashStats(spark, p)
      .orderBy("__h").collect().toSeq
    val grownH = hview(path)
    val path2 = live("substr2")
    IndexStore.saveSubstr(base.unionByName(delta), "doc_id", "text",
      minLen = 40, path2, hasher = Dedup.portableHash)
    assert(grownH == hview(path2),
      "merged hash stats must equal the fresh build row-for-row")
    // compaction folds the partials into one segment without changing
    // the view or the served reports
    IndexStore.compactSubstr(spark, path)
    assert(hview(path) == grownH,
      "compaction must not change the stats view")
    assert(reports(path) == fresh,
      "compaction must not change the served reports")
    // winnowed index: same append ≡ one-shot contract in sampled mode
    val pathW = live("substrw")
    IndexStore.saveSubstr(base, "doc_id", "text", minLen = 40, pathW,
      hasher = Dedup.portableHash, winnow = 4)
    IndexStore.appendSubstr(base, delta, "doc_id", "text", minLen = 40,
      pathW, hasher = Dedup.portableHash, winnow = 4)
    val freshW = Dedup.substringDedup(base.unionByName(delta), "doc_id",
        "text", minLen = 40, hasher = Dedup.portableHash, winnow = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(reports(pathW) == freshW,
      "winnowed append must equal the winnowed one-shot")
  }
}
