package graft.pipeline

import scala.collection.mutable

import graft.functions.Vectors
import graft.functions.Vectors.ShingleHash
import graft.operators.Crossover
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Large-scale dedup operators (builder-prompt pipeline surface).
  *
  * All operators work on a (id, text) DataFrame and are pure DataFrame
  * compositions — every stage is shuffle-minimal and map-side combinable:
  *
  *   exact        — hash groupBy on a content digest (1 shuffle on digest)
  *   minhashLsh   — word array → fused shingle-hash-minhash signature
  *                  (narrow) → band buckets → in-bucket pairs: within the
  *                  Crossover budget banded on the driver after one
  *                  bounded collect (no shuffle); beyond it one
  *                  aggregation on (band, bucket) (shuffle on bucket key,
  *                  candidate pairs only — never the O(n²) pair space)
  *   simhash      — 64-bit simhash per doc (narrow), near-dup = hamming ≤ k
  *                  over bucketed prefixes
  *   ngramJaccard — exact set-similarity verification for candidate pairs
  *
  * At 100 TB: the only quadratic danger is bucket skew (a degenerate shingle
  * shared by millions of docs); `maxBucketSize` drops pathological buckets,
  * the standard production guard (cf. Spark MLlib MinHashLSH).
  */
object Dedup {

  /** Exact dedup: canonical id per identical (case-sensitive) content. */
  def exact(docs: DataFrame, id: String, text: String): DataFrame = {
    docs.select(col(id), md5(col(text)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(id)).as("canonical_id"),
           count(lit(1)).as("n_copies"))
  }

  /** Streaming exact dedup: emit each distinct content exactly once across
    * micro-batches (the online form of `exact` for an ingest pipeline).
    * The watermark bounds the dedup state: duplicates arriving later than
    * `lateness` past the max seen event time may re-emit — the standard
    * Structured Streaming state/completeness trade.
    */
  def streamingExact(docs: DataFrame, id: String, text: String,
      eventTime: String, lateness: String): DataFrame =
    docs.select(col(id), col(eventTime), md5(col(text)).as("content_hash"))
      .withWatermark(eventTime, lateness)
      .dropDuplicates("content_hash")

  /** Word n-gram shingles, distinct, lowercased.
    *
    * Built by zipping the word array with its own shifted copies — one pass
    * of n-1 zip_with steps — instead of a per-position slice+join (which
    * costs O(words × n) array copies and dominated the profile: higher-order
    * functions are interpreted, so every avoided allocation counts).
    * zip_with pads the shorter side with null and concat propagates null, so
    * the trailing (n-1) partial grams drop in the final filter.
    */
  /** Shared tokenizer — the single definition both the shingle kernel and
    * derived ratios (text_repetition's bigram denominator) must agree on.
    */
  def words(text: Column): Column = split(lower(text), "\\s+")

  def shingles(text: Column, n: Int): Column = {
    val ws = words(text)
    val grams = (1 until n).foldLeft(ws) { (acc, k) =>
      val shifted = slice(ws, lit(k + 1), greatest(size(ws) - k, lit(0)))
      zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(filter(grams, x => x.isNotNull))
  }

  /** Cross-engine-reproducible shingle hashes: the top 60 bits of md5(s),
    * decoded from hex, in one fused call over the array
    * (graft.functions.Vectors.md5Array60). Every SQL engine computes the
    * identical value — used where an external oracle must replay the
    * pipeline.
    */
  def portableShingleHashes(sh: Column): Column =
    Vectors.md5Array60(sh)

  /** Scalar form of the portable hash: top 60 bits of md5, hex-decoded —
    * identical in any SQL engine. The fast path is xxhash64.
    */
  def portableHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Full MinHash+LSH near-dup candidate pipeline:
    * docs(id, text) → candidate pairs (id1 < id2) with estimated jaccard
    * (signature agreement fraction) >= minEstJaccard.
    *
    * Eager: the pairs are computed before this returns. Within the
    * `Crossover.MinhashCells` budget (n·k signature longs) the
    * signatures are collected in one bounded take and banded, paired and
    * estimated on the driver, and the result is a local frame: no pin,
    * no shuffle. Beyond it (and on a null or duplicate id, a candidate
    * pair count over `Crossover.GraphPairs`, or under
    * `Crossover.distributed`) the result is a materialized
    * [[graft.operators.Pinning]] pin that the CALLER owns, and the
    * signatures it was built from are already released, so the pin holds
    * only the pair rows. `Pinning.unpin` is safe on both forms. The rows
    * are the same on both paths (DedupSpec pins it).
    */
  def minhashLsh(
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int = 3,
      k: Int = 128,
      bands: Int = 32,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      hasher: ShingleHash = ShingleHash.XxHash64): DataFrame = {
    val rows = k / bands
    val sigs = minhashSigsOf(docs, id, text, shingleN, k, hasher)
    val idType = docs.schema(id).dataType
    minhashPairsLocal(sigs, idType, k, bands, rows, minEstJaccard,
      maxBucketSize, Crossover.MinhashCells / k).getOrElse(
      minhashPairsDistributed(sigs, k, bands, rows, minEstJaccard,
        maxBucketSize))
  }

  /** The driver-local pair build: None when there are more than
    * `budgetRows` signatures, an id is null or repeated, or the
    * candidate pairs pass `Crossover.GraphPairs`.
    */
  private[graft] def minhashPairsLocal(sigs: DataFrame, idType: DataType,
      k: Int, bands: Int, rows: Int, minEstJaccard: Double,
      maxBucketSize: Int, budgetRows: Long): Option[DataFrame] =
    Crossover.take(sigs, budgetRows, "__id").flatMap { got =>
      // doc indices in id order, so a pair of indices i < j is id1 < id2
      val docs = got.map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      val (ids, sig) = (docs.map(_._1), docs.map(_._2))
      val byKey = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
      for (i <- docs.indices; b <- 0 until bands)
        byKey.getOrElseUpdate((b, Vectors.bandBucket(sig(i), b, rows)),
          mutable.ArrayBuffer.empty[Int]) += i
      val buckets = byKey.valuesIterator
        .filter(m => m.size >= 2 && m.size <= maxBucketSize).toSeq
      val work = buckets.iterator.map(m => m.size.toLong * (m.size - 1) / 2).sum
      val repeated = ids.indices.exists(i => i > 0 && ids(i - 1) == ids(i))
      if (repeated || !Crossover.fits(work, Crossover.GraphPairs)) None
      else {
        // members are in index order; a pair (i, j) packs as i·n + j
        val n = docs.length.toLong
        val pairs = mutable.HashSet.empty[Long]
        for (m <- buckets; x <- m.indices; y <- x + 1 until m.size)
          pairs += m(x) * n + m(y)
        val out = pairs.iterator.flatMap { p =>
          val (i, j) = ((p / n).toInt, (p % n).toInt)
          var agree = 0
          var c = 0
          while (c < k) { if (sig(i)(c) == sig(j)(c)) agree += 1; c += 1 }
          val est = agree.toDouble / k
          if (est >= minEstJaccard) Some(Row(ids(i), ids(j), est)) else None
        }.toSeq
        val local = sigs.sparkSession.createDataFrame(
          java.util.Arrays.asList(out: _*), StructType(Seq(
            StructField("id1", LongType), StructField("id2", LongType),
            StructField("est_jaccard", DoubleType))))
        Some(local.select(col("id1").cast(idType).as("id1"),
          col("id2").cast(idType).as("id2"), col("est_jaccard")))
      }
    }

  private def minhashPairsDistributed(unpinned: DataFrame, k: Int,
      bands: Int, rows: Int, minEstJaccard: Double,
      maxBucketSize: Int): DataFrame = {
    // signatures once, pinned per call: reused by the band join and the
    // final estimate join (signatures are k longs per doc — small);
    // released below once the pairs are pinned, never a session-lifetime
    // CacheManager row
    val sigs = graft.operators.Pinning.pin(unpinned)
    // ONE aggregation replaces window-count guard + self-join + filter:
    // collect each bucket's ids, drop degenerate (oversized) buckets, and
    // expand the in-bucket pairs locally from the sorted id list. Saves two
    // full shuffles and a window sort; bucket sizes are bounded by
    // maxBucketSize so the local expansion is at most quadratic in that cap.
    // Only (id, band, bucket) flows through the shuffle — the signature
    // arrays are re-attached after pair dedup, not dragged through it.
    val buckets = minhashBandedOf(sigs, bands, rows)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("__id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
    val sortedIds = array_sort(col("ids"))
    val bucketPairs = flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + lit(2), size(sortedIds) - i - 1),
        y => struct(x.as("id1"), y.as("id2")))))
    val pairs = buckets.select(explode(bucketPairs).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
    // pin the result, then release the signatures: the pin no longer
    // reads them, so a memoized result does not keep them alive
    val result = graft.operators.Pinning.pin(pairs
      .join(sigs.select(col("__id").as("id1"), col("sig").as("sig1")), Seq("id1"))
      .join(sigs.select(col("__id").as("id2"), col("sig").as("sig2")), Seq("id2"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (a, b) => a === b),
          x => x)).cast("double") / k)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id1"), col("id2"), col("est_jaccard")))
    graft.operators.Pinning.unpin(sigs)
    result
  }

  /** (__id, sig): one fused signature per document with at least one
    * n-gram ([[graft.functions.Vectors.MinHashShingles]] over [[words]]).
    */
  private[graft] def minhashSigsOf(df: DataFrame, id: String, text: String,
      shingleN: Int, k: Int, hasher: ShingleHash): DataFrame = df
    .select(col(id).as("__id"),
      Vectors.minhashShingles(words(col(text)), shingleN, k, hasher).as("sig"))
    .filter(col("sig").isNotNull)

  /** (__id, band, bucket): one row per document and band
    * ([[graft.functions.Vectors.MinHashBands]]).
    */
  private[graft] def minhashBandedOf(sigs: DataFrame, bands: Int,
      rows: Int): DataFrame = sigs
    .select(col("__id"), explode(Vectors.minhashBands(col("sig"), bands, rows))
      .as("bk"))
    .select(col("__id"), col("bk.band").as("band"),
      col("bk.bucket").as("bucket"))

  /** The bucket index derived from a signature frame: per-(band, bucket)
    * base-id lists with the degenerate-bucket cap — this aggregate IS the
    * materialized index side. Shared by every derivation site so sigs →
    * buckets can never drift between the in-session and persisted paths.
    */
  def minhashBucketsOf(sigs: DataFrame, bands: Int, rows: Int,
      maxBucketSize: Int): DataFrame =
    minhashBandedOf(sigs, bands, rows)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("__id")).as("base_ids"))
      .filter(size(col("base_ids")) <= maxBucketSize)

  /** Incremental (delta-vs-index) near-dup: dedup a NEW ingest batch
    * against an already-indexed corpus without re-pairing the corpus with
    * itself. At 100 TB this is THE dedup access pattern — a daily crawl
    * delta is orders of magnitude smaller than the accumulated corpus, so
    * re-running [[minhashLsh]] over (base ∪ delta) would redo the entire
    * base×base candidate space for pairs that cannot have changed. Here
    * the base contributes only its banded bucket index (in production a
    * materialized table maintained ingest-over-ingest, exactly like the
    * reference's scheme caches); each delta pays O(|delta|) signature
    * work plus one bucket-key join against that index.
    *
    * Shuffle discipline matches [[minhashLsh]]: ids only through the
    * bucket join (signatures re-attach after candidate dedup). The
    * degenerate-bucket guard differs deliberately: `maxBucketSize` caps
    * the INDEX side (a base bucket larger than the cap is dropped from
    * the index, as an index maintainer would), while every delta doc
    * always probes — unlike the batch pipeline's total-bucket-size cap.
    * On corpora with no capped buckets the two agree exactly (the
    * DedupSpec cross-slice property).
    *
    * Returns ONE verdict row per delta doc: (id, n_matches, best_match_id,
    * best_est, is_dup) — best = highest estimated jaccard, ties to the
    * smallest base id; clean docs get (0, null, null, false).
    */
  def incrementalNearDup(
      base: DataFrame,
      delta: DataFrame,
      id: String,
      text: String,
      shingleN: Int = 3,
      k: Int = 128,
      bands: Int = 32,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      hasher: ShingleHash = ShingleHash.XxHash64): DataFrame = {
    // pin the signatures, then derive the bucket index from the PINNED
    // frame so the shingle+minhash chain runs once for both index tables
    val baseSigs = graft.operators.Pinning.pin(
      minhashSigsOf(base, id, text, shingleN, k, hasher))
    val baseBuckets = minhashBucketsOf(baseSigs, bands, k / bands,
      maxBucketSize)
    nearDupVerdictsAgainst(baseSigs, baseBuckets, delta, id, text,
      shingleN, k, bands, minEstJaccard, hasher)
  }

  /** Verdict core shared by the in-session and persisted-index paths:
    * band the delta, probe the base bucket index, attach both signature
    * sides after candidate dedup, estimate, argmax.
    */
  def nearDupVerdictsAgainst(
      baseSigs: DataFrame,
      baseBuckets: DataFrame,
      delta: DataFrame,
      id: String,
      text: String,
      shingleN: Int,
      k: Int,
      bands: Int,
      minEstJaccard: Double,
      hasher: ShingleHash = ShingleHash.XxHash64): DataFrame = {
    val deltaSigs = graft.operators.Pinning.pin(
      minhashSigsOf(delta, id, text, shingleN, k, hasher))
    val candidates = minhashBandedOf(deltaSigs, bands, k / bands)
      .join(baseBuckets, Seq("band", "bucket"))
      .select(col("__id").as("__did"), explode(col("base_ids")).as("__bid"))
      .distinct()
    val est = candidates
      .join(deltaSigs.select(col("__id").as("__did"), col("sig").as("__dsig")),
        Seq("__did"))
      .join(baseSigs.select(col("__id").as("__bid"), col("sig").as("__bsig")),
        Seq("__bid"))
      .withColumn("__est",
        size(filter(zip_with(col("__dsig"), col("__bsig"), (a, b) => a === b),
          x => x)).cast("double") / k)
      .filter(col("__est") >= minEstJaccard)
    // argmax by (est desc, base id asc) as one min over an orderable struct
    val verdicts = est.groupBy(col("__did"))
      .agg(count(lit(1)).as("n_matches"),
        min(struct((-col("__est")).as("ne"), col("__bid").as("bid"))).as("b"))
      .select(col("__did").as(id), col("n_matches"),
        col("b.bid").as("best_match_id"), (-col("b.ne")).as("best_est"))
    delta.select(col(id))
      .join(verdicts, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match_id"), col("best_est"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"))
  }

  /** 64-bit SimHash over shingle hashes: per bit, sum +1/-1 weighted votes;
    * bit set if the vote is positive. Fused single-pass codegen'd kernel
    * (Vectors.SimHash64) — the 64-fold HOF form re-scanned the array per
    * bit and dominated the honest sf0.1 bench.
    */
  def simhash(shingleHashes: Column): Column =
    graft.functions.Vectors.simhash64(shingleHashes)

  /** Exact n-gram Jaccard similarity between two (distinct-element) shingle
    * arrays — fused codegen'd set kernel (graft.functions.Vectors.JaccardSim).
    */
  def jaccard(sh1: Column, sh2: Column): Column =
    graft.functions.Vectors.jaccard(sh1, sh2)

  /** Sub-document (paragraph/line/chunk) exact dedup — the C4-style "remove
    * every repeated line corpus-wide, keep its first occurrence" pass.
    *
    * `units` is the exploded corpus: one row per (docId, pos, unit) where
    * `pos` orders units within a document. Returns the SURVIVING units —
    * for each distinct unit text, the single occurrence with the smallest
    * (docId, pos). Callers reassemble documents with a groupBy(docId) +
    * ordered collect (see dedup_paragraph).
    *
    * Plan: ONE aggregation keyed on the unit text — `min(struct(docId,
    * pos))` is map-side combinable, so at 100 TB each executor reduces its
    * local duplicates before the shuffle and only one candidate row per
    * distinct unit per partition moves. No window sort, no self-join.
    */
  def unitDedup(units: DataFrame, docId: String, pos: String,
      unit: String): DataFrame =
    units.groupBy(col(unit))
      .agg(min(struct(col(docId), col(pos))).as("__first"))
      .select(col(s"__first.$docId").as(docId),
        col(s"__first.$pos").as(pos), col(unit))

  /** Duplicated-substring spans — the exact-substring dedup signal of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022), re-expressed relationally: a k-word shingle position is
    * duplicated iff its shingle occurs more than once corpus-wide (their
    * suffix-array criterion at shingle granularity); per document,
    * overlapping/adjacent duplicated positions merge into maximal spans
    * (gaps-and-islands). Wide ops: the shingle-count shuffle (map-side
    * combinable, key = content hash so it's skew-diffuse), the semi join
    * marking duplicated positions, and a per-document window — never a
    * suffix array, never the O(n²) pair space.
    *
    * Hashes use the portable md5 scheme so an external engine can replay
    * the whole pipeline. Output: (id, n_dup_spans, n_dup_tokens) for EVERY
    * input document (0, 0 when clean).
    */
  def dupSpans(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = words(col(text))
    val occ = docs.select(col(id).as("__did"), ws.as("__ws"))
      .select(col("__did"),
        explode(when(size(col("__ws")) >= k,
            sequence(lit(1), size(col("__ws")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("pos"),
        col("__ws"))
      .select(col("__did"), col("pos"),
        conv(substring(md5(
            array_join(slice(col("__ws"), col("pos"), lit(k)), " ")),
          1, 15), 16, 10).cast("long").as("__h"))
    val dupHashes = occ.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).select(col("__h"))
    val dupPos = occ.join(dupHashes, Seq("__h"), "left_semi")
    val wD = Window.partitionBy(col("__did")).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("__brk",
        when(col("pos") <= lag(col("pos"), 1).over(wD) + k, 0).otherwise(1))
      .withColumn("__island", sum(col("__brk")).over(wD))
      .groupBy(col("__did"), col("__island"))
      .agg(min(col("pos")).as("__s"), max(col("pos")).as("__e"))
      .groupBy(col("__did"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("__e") + (k - 1) - col("__s") + 1).cast("long")
          .as("n_dup_tokens"))
    docs.select(col(id))
      .join(spans.withColumnRenamed("__did", id), Seq(id), "left")
      .select(col(id),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }

  /** EXACT all-pairs set-similarity self-join via prefix filtering
    * (Chaudhuri et al. 2006 SSJoin / Xiao et al. PPJoin family) — the
    * candidate generator that, unlike MinHash-LSH, has NO false negatives:
    * under a global token order, two sets with |x∩y| >= a must share a
    * token within their first (|x|-a+1) tokens; with a = ceil(t*|x|)
    * (implied by Jaccard >= t since the overlap is at least t*|x|), a
    * per-set prefix of length |x| - ceil(t*|x|) + 1 guarantees every
    * qualifying pair collides on some prefix token.
    *
    * The global order is (ascending corpus frequency, token) — prefixes
    * hold each set's RAREST tokens, so candidate buckets are naturally
    * tiny: a token with corpus frequency f generates <= f(f-1)/2 pairs,
    * and frequent tokens sink to the suffix where they are never indexed.
    * All shuffles before verification carry (token, id, position, size)
    * rows only; the exact Jaccard check re-attaches the two token arrays
    * once per surviving candidate.
    *
    * Two PPJoin prunes fire on each prefix collision BEFORE the pair
    * distinct (both are sound upper bounds, so no false negatives):
    *   - length filter: J >= t forces t·max(n1,n2) <= min(n1,n2);
    *   - position filter: a collision at 1-based prefix positions
    *     (p1, p2) bounds the true overlap by
    *     min(p1,p2) + min(n1-p1, n2-p2) (shared tokens before the
    *     collision are at most min(p1,p2)-1, the collision token is 1,
    *     and after it at most min of the remainders), which must reach
    *     alpha = ceil(t/(1+t)·(n1+n2)), the overlap a Jaccard of t
    *     implies. A qualifying pair passes on EVERY collision row, so
    *     filtering rows (not pairs) preserves exactness.
    *
    * All threshold arithmetic is integer basis points (t = tb/10000):
    * `ceil(0.2 * 35)` in doubles is 8, not 7 — binary 0.2 rounds the
    * product up — which would silently shorten the prefix and drop
    * qualifying pairs. ceil(t·n) = (n·tb + 9999) div 10000 is exact.
    *
    * Materialization posture (`eager = true`, the default): the
    * ordered-token dimension is consumed three ways (prefix explode +
    * both verify attaches), so it is pinned ONCE per call via
    * `Pinning.pin` (strategy-selected: local / reliable / disk2) —
    * this call's own execution, not a CacheManager entry keyed by plan. Plan-keyed `.cache()` made the
    * cost nondeterministic under session cache pressure (a hit reused
    * another call's blocks, an eviction silently tripled the work) and
    * leaked session-lifetime blocks. The pair RESULT is then
    * materialized inside the call and the dimension's blocks are freed
    * before returning, so per-call cost is flat and nothing outlives
    * the returned (caller-owned, checkpointed) pair list. `eager =
    * false` returns the fully lazy plan — for plan inspection and for
    * embedding in a larger lazy pipeline whose caller manages reuse.
    *
    * The verify-attach broadcast gate is on estimated BYTES of the
    * dimension (token chars + per-token overhead, summed from the
    * materialized dimension itself — no extra corpus scan), not row
    * count: per-doc token arrays are unbounded, and a row-count gate
    * could broadcast a few very long documents past the broadcast
    * ceiling. `broadcastVerify` overrides the gate either way (the only
    * option in lazy mode, where nothing is materialized to measure).
    */
  def prefixFilterPairs(docs: DataFrame, id: String, tokens: Column,
      t: Double, eager: Boolean = true,
      broadcastVerify: Option[Boolean] = None): DataFrame = {
    require(t > 0 && t <= 1, s"threshold must be in (0,1]: $t")
    val tb = math.round(t * 10000).toInt
    require(math.abs(tb / 10000.0 - t) < 1e-12,
      s"threshold must be expressible in basis points (got $t)")
    // Column `/` is DOUBLE division — floor() restores integral div.
    // Exact because the numerator (n·tb+9999, n ≤ doc token count) stays
    // far below 2^45, where a double quotient just under an integer can
    // never round up to it.
    def ceilBp(n: Column): Column =
      floor((n * tb + (10000 - 1)) / 10000).cast("long")
    val tok = docs.select(col(id).as("__id"), array_distinct(tokens).as("__raw"))
      .filter(size(col("__raw")) > 0)
    val ex = tok.select(col("__id"), explode(col("__raw")).as("__t"))
    val freq = ex.groupBy(col("__t")).agg(count(lit(1)).as("__f"))
    // midprefix (PPJoin probe/index asymmetry, Xiao et al. TODS 2011):
    // for the (n,id)-SMALLER record of a qualifying pair the overlap
    // bound tightens to alpha >= ceil(2t/(1+t)·n), so its prefix can
    // shrink to n − ceil(2t/(1+t)·n) + 1 tokens. 2t/(1+t) in basis
    // points is 2·tb/(10000+tb); same floor()-division exactness bound
    // as ceilBp (numerator < 2^45).
    def ceilMidBp(n: Column): Column =
      floor((n * (2 * tb) + (10000 + tb - 1)) / (10000 + tb)).cast("long")
    val orderedPlan = ex.join(freq, "__t")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__f"), col("__t")))).as("__st"))
      .select(col("__id"),
        transform(col("__st"), x => x.getField("__t")).as("__ts"))
      .withColumn("__n", size(col("__ts")).cast("long"))
      .withColumn("__p", (col("__n") - ceilBp(col("__n")) + 1).cast("int"))
      .withColumn("__pm", (col("__n") - ceilMidBp(col("__n")) + 1).cast("int"))
    // consumed three ways (prefix explode + both verify attaches): pin
    // THIS call's execution once; see the scaladoc materialization note
    val ordered =
      if (eager) graft.operators.Pinning.pin(orderedPlan) else orderedPlan
    val prefix = ordered.select(col("__id"), col("__n"), col("__pm"),
        posexplode(slice(col("__ts"), lit(1), col("__p"))).as(Seq("__i", "__t")))
      .select(col("__id"), col("__n"), col("__pm"),
        (col("__i") + 1).cast("long").as("__pp"), col("__t"))
    // alpha = ceil(t/(1+t)·(n1+n2)) in basis points: (tb·s + (10000+tb-1))
    // div (10000+tb) — exact for rational t, no float ceil. floor() makes
    // the double `/` integral (same < 2^45 exactness bound as ceilBp).
    val alpha = floor(
      (lit(tb) * (col("__n1") + col("__n2")) + (10000 + tb - 1)) /
        (10000 + tb)).cast("long")
    // Candidate join with the asymmetric prefixes: the (n,id)-lex-smaller
    // record probes with its MIDPREFIX only, the larger is indexed under
    // its full Jaccard prefix. Completeness: a qualifying pair (o >=
    // alpha) shares a token within (n − o + 1)-prefixes of both sides
    // (the classic prefix lemma on the global token order), and o >=
    // ceil(2t/(1+t)·n_small) and o >= ceil(t·n_large) for any pair that
    // can survive the length filter — so midprefix(small) × prefix(large)
    // must collide. The lex order makes each unordered pair probe in
    // exactly ONE orientation; every downstream filter is least/greatest-
    // symmetric, so sides canonicalize to (min id, max id) at the end.
    // The positional filter stays sound row-wise: for ANY common token of
    // a qualifying pair, common-before <= min(p1,p2)−1 and common-after
    // <= min(n1−p1, n2−p2) under the shared global order.
    val cands = prefix.filter(col("__pp") <= col("__pm"))
      .select(col("__id").as("id1_"), col("__n").as("__n1"),
        col("__pp").as("__p1"), col("__t"))
      .join(prefix.select(col("__id").as("id2_"), col("__n").as("__n2"),
        col("__pp").as("__p2"), col("__t")), "__t")
      .filter(col("__n1") < col("__n2") ||
        (col("__n1") === col("__n2") && col("id1_") < col("id2_")))
      .filter(least(col("__n1"), col("__n2")) >=
        ceilBp(greatest(col("__n1"), col("__n2"))))
      .filter(least(col("__p1"), col("__p2")) +
        least(col("__n1") - col("__p1"), col("__n2") - col("__p2")) >= alpha)
      .select(least(col("id1_"), col("id2_")).as("id1"),
        greatest(col("id1_"), col("id2_")).as("id2"))
      .distinct()
    // The candidate list (~10²·n pairs at low thresholds) dwarfs the
    // ordered-token table (n rows): letting Catalyst sort-merge these
    // joins shuffles BOTH docs' full shingle arrays once per candidate
    // pair — measured ~2.5 GB of array traffic at sf0.1 against a 5 MB
    // dimension. Under the byte gate the token table broadcasts and both
    // attaches go map-side (the Similarity.nnDescentStep scheme); above
    // it the plain equi joins remain the plan — stats post-aggregation
    // are unknown, so the hint must be explicit. The estimate scans the
    // already-materialized dimension (fast, in-memory), never the corpus:
    // 2 bytes/char UTF-16 + ~48 bytes/String object overhead per token.
    val bcast = broadcastVerify.getOrElse(eager && {
      // per-token byte estimate: UTF-16 chars + String header for string
      // tokens; a flat 16 B (boxed long) for numeric tokens (the hashed-
      // shingle path)
      val elemIsString = ordered.schema("__ts").dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) => true
        case _ => false
      }
      val perTok: Column => Column =
        if (elemIsString) x => length(x) * 2 + 48 else _ => lit(16L)
      val r = ordered.agg(
        coalesce(sum(aggregate(col("__ts"), lit(0L),
          (acc, x) => acc + perTok(x))), lit(0L))).head.getLong(0)
      r <= (256L << 20)
    })
    // Post-gate attach strategy: SHUFFLE_HASH with the dimension as the
    // build side. Sort-merge would SORT both inputs — including, on the
    // second attach, the candidate rows already carrying the first
    // doc's token array (tens of GB at 100×, the r10 probe's knee); the
    // hash join streams the array-carrying side untouched and builds
    // only the per-partition dimension slice (~dimension/shuffle-
    // partitions, bounded by doc count not pair count).
    def side(d: DataFrame) =
      if (bcast) broadcast(d) else d.hint("SHUFFLE_HASH")
    val a1 = side(ordered.select(col("__id").as("id1"),
      col("__ts").as("__ts1"), col("__n").as("__n1")))
    val a2 = side(ordered.select(col("__id").as("id2"),
      col("__ts").as("__ts2"), col("__n").as("__n2")))
    val pairs = cands.join(a1, "id1").join(a2, "id2")
      .withColumn("__i", size(array_intersect(col("__ts1"), col("__ts2"))))
      .withColumn("jac", col("__i").cast("double") /
        (col("__n1") + col("__n2") - col("__i")).cast("double"))
      .filter(col("jac") >= t)
      .select(col("id1"), col("id2"), col("jac"))
    if (!eager) pairs
    else {
      // materialize the (small — qualifying pairs only) result while the
      // dimension is hot, then free the dimension's blocks: nothing this
      // call pinned outlives the returned pair list (the nnDescent
      // return posture — caller owns the pinned result)
      val out = graft.operators.Pinning.pin(pairs)
      graft.operators.Pinning.unpin(ordered)
      out
    }
  }

  /** Exact shingle-containment pairs — the ASYMMETRIC near-dup Jaccard
    * misses: a short document quoted wholesale inside a long one has
    * containment |A∩B|/min(|A|,|B|) ≈ 1 while Jaccard |A∩B|/|A∪B| stays
    * tiny. The standard quote/subset detector in training-data curation
    * (near-dup doc absorption, boilerplate inclusion).
    *
    * Semantics (identical on the oracle side, so the output stays
    * hash-exact): shingles with document frequency above `maxDf` are
    * DROPPED before any pair forms — CCNet-style stop-gram removal —
    * and sizes/intersections count over the FILTERED gram space. The DF
    * cap is what bounds the inverted-index join at scale: a gram joins
    * at most maxDf² doc pairs, so no stopword gram can quadratic-blow
    * the candidate space; every shuffle carries (gram, id) or id pairs,
    * never documents.
    *
    * Output: (id1 < id2, inter, containment) for containment ≥ t.
    */
  def containmentPairs(docs: DataFrame, id: String, shingleCol: Column,
      t: Double, maxDf: Int): DataFrame = {
    val sh = docs.select(col(id).as("__id"), explode(shingleCol).as("g"))
    val kept = sh.join(
      sh.groupBy(col("g")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf)
        .select(col("g")),
      Seq("g"))
    val sizes = kept.groupBy(col("__id")).agg(count(lit(1)).as("__n"))
    kept.as("a")
      .join(kept.as("b"), col("a.g") === col("b.g") &&
        col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("__id").as("id1"), col("__n").as("__n1")),
        Seq("id1"))
      .join(sizes.select(col("__id").as("id2"), col("__n").as("__n2")),
        Seq("id2"))
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("__n1"), col("__n2")), 4))
      .filter(col("containment") >= t)
      .select(col("id1"), col("id2"), col("inter"), col("containment"))
  }

  /** Bottom-k sketch containment (Broder 1997 resemblance/containment
    * estimation) — the SCALE path for [[containmentPairs]], the same way
    * MinHash-LSH is the scale path for exact Jaccard. The exact operator
    * shuffles every (gram, id) row; at 100 TB that's the full shingle
    * space through one join. Here each document is reduced ONCE (narrow)
    * to a fixed-size state: its k smallest portable gram hashes plus its
    * true distinct-gram count — k·8 bytes however long the document is —
    * and everything downstream touches only sketches.
    *
    * Estimator: for a candidate pair, merge the two sketches and keep
    * the kk = min(k, |union|) smallest values S — a uniform sample of
    * A∪B. The fraction of S present in BOTH sketches estimates Jaccard
    * J; |A∩B| follows as J/(1+J)·(|A|+|B|) and containment divides by
    * min(|A|,|B|). Every step is deterministic (md5-derived hashes, no
    * RNG), so an external SQL oracle replays it value-for-value.
    *
    * Candidates form where sketches COLLIDE (share any bottom-k hash) —
    * a pair with containment c shares at least a c-fraction of the
    * smaller doc's gram space, so its minimum gram hash lands in both
    * sketches with probability ≥ c per retained slot; misses are the
    * sketch trade. `maxBucketSize` drops degenerate buckets (a boiler-
    * plate gram whose hash is bottom-k in millions of docs), the same
    * guard as [[minhashLsh]] — shuffles carry (hash, id) rows and id
    * pairs only, never documents or gram sets.
    *
    * Output: (id1 < id2, est_jaccard, est_containment) for
    * est_containment ≥ t, both rounded to 4 decimals.
    */
  def containmentSketchPairs(docs: DataFrame, id: String, shingleCol: Column,
      t: Double, k: Int, maxBucketSize: Int = 1000,
      eager: Boolean = true): DataFrame = {
    require(k > 0, s"sketch size must be positive: $k")
    // per-doc reduction: distinct portable hashes, sorted, bottom-k kept
    // beside the TRUE distinct-gram count (one long — the only exact
    // cardinality the estimator needs)
    val skPlan = docs
      .select(col(id).as("__id"),
        array_sort(array_distinct(portableShingleHashes(shingleCol))).as("__hs"))
      .filter(size(col("__hs")) > 0)
      .select(col("__id"), slice(col("__hs"), 1, k).as("__sk"),
        size(col("__hs")).cast("long").as("__n"))
    // consumed three ways (bucket explode + both pair attaches): pin this
    // call's execution once, free before return (the prefixFilterPairs
    // lifecycle — no CacheManager entry, nothing outlives the result)
    val sk = if (eager) graft.operators.Pinning.pin(skPlan) else skPlan
    // candidate generation: one aggregation per colliding hash value,
    // in-bucket pairs expanded locally from the sorted id list (the
    // minhashLsh bucket scheme — saves a self-join shuffle)
    val buckets = sk
      .select(col("__id"), explode(col("__sk")).as("__h"))
      .groupBy(col("__h"))
      .agg(collect_list(col("__id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
    val sortedIds = array_sort(col("ids"))
    val cands = buckets
      .select(explode(flatten(transform(sortedIds, (x, i) =>
        transform(slice(sortedIds, i + lit(2), size(sortedIds) - i - 1),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2")).distinct()
    // sketch attach: pair list vs a k-longs-per-doc dimension — the
    // post-aggregation-stats blind spot; gate an explicit broadcast on
    // exact dimension bytes (fixed 8 B/hash, no corpus scan needed)
    val bcast = eager && {
      val rows = sk.count()
      rows * (k * 8L + 64L) <= (256L << 20)
    }
    def side(d: DataFrame) = if (bcast) broadcast(d) else d
    val a1 = side(sk.select(col("__id").as("id1"), col("__sk").as("__sk1"),
      col("__n").as("__n1")))
    val a2 = side(sk.select(col("__id").as("id2"), col("__sk").as("__sk2"),
      col("__n").as("__n2")))
    // merged-sketch estimator: all array ops over ≤ 2k elements per pair
    val u = array_sort(array_union(col("__sk1"), col("__sk2")))
    val kk = least(size(u), lit(k))
    val both = size(array_intersect(
      array_intersect(slice(u, lit(1), kk), col("__sk1")), col("__sk2")))
    val j = both.cast("double") / kk.cast("double")
    val estInter = j / (lit(1.0) + j) * (col("__n1") + col("__n2")).cast("double")
    val pairs = cands.join(a1, "id1").join(a2, "id2")
      .withColumn("est_jaccard", round(j, 4))
      .withColumn("est_containment",
        round(estInter / least(col("__n1"), col("__n2")).cast("double"), 4))
      .filter(col("est_containment") >= t)
      .select(col("id1"), col("id2"), col("est_jaccard"), col("est_containment"))
    if (!eager) pairs
    else {
      val out = graft.operators.Pinning.pin(pairs)
      graft.operators.Pinning.unpin(sk)
      out
    }
  }

  /** Quality-aware canonical selection: the production alternative to
    * min-id survivorship. Near-dup clustering decides WHICH documents
    * are copies; this decides which copy to KEEP — the best-scoring
    * member (highest `score`, ties to the smallest id), so a cluster of
    * a clean original plus boilerplate-injected mirrors keeps the
    * original, where min-id keeps whichever crawled first.
    *
    * `members`: (id, cluster) membership rows. One aggregation keyed on
    * cluster: `min(struct(−score, id))` is the deterministic argmax —
    * shuffle carries (cluster, score, id) triples only, combines
    * map-side. Output: (cluster, canonical_id).
    */
  def canonicalByQuality(members: DataFrame, id: String, cluster: String,
      score: Column): DataFrame =
    members
      .select(col(cluster),
        struct((-score).as("__ns"), col(id).as("__cid")).as("__s"))
      .groupBy(col(cluster))
      .agg(min(col("__s")).as("__best"))
      .select(col(cluster), col("__best.__cid").as("canonical_id"))

  /** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995) — the
    * classic entity-resolution candidate generator: sort the corpus by a
    * blocking key, then compare only rows whose sort ranks are within
    * `window` of each other. Complements the hash-bucket generators above
    * (LSH/SimHash): SNM catches near-dups that share a key PREFIX even when
    * no shingle bucket collides, and its candidate count is exactly
    * (window-1)·n — linear by construction, no skew failure mode.
    *
    * Scale shape: the global sort rank comes from the two-phase
    * [[graft.operators.Numbering.numberBySort]] (range shuffle + broadcast
    * partition offsets — never a single-partition Window.orderBy), and the
    * "ranks within window" predicate is an EQUI join on rank after fanning
    * one side out by the constant offsets 1..window-1 — never a range or
    * cross join. Wide ops total: one range shuffle + one equi-join shuffle.
    *
    * Verification stage: exact word-`n`-gram Jaccard (fused codegen set
    * kernel) ≥ `threshold`, so the output is a verified pair list, not just
    * candidates. Docs with fewer than 2 words carry no shingles and are
    * excluded (their Jaccard is undefined).
    *
    * Output: (id1, id2, jac) with id1 < id2, jac rounded to 4 decimals.
    */
  def sortedNeighborhood(
      docs: DataFrame,
      id: String,
      text: String,
      keyLen: Int,
      window: Int,
      n: Int,
      threshold: Double): DataFrame = {
    val keyed = docs
      .filter(size(words(col(text))) >= 2)
      .select(col(id).as("__id"),
        shingles(col(text), n).as("__sh"),
        substring(lower(trim(col(text))), 1, keyLen).as("__k"))
      .withColumn("__sk", struct(col("__k"), col("__id")))
    val ranked = graft.operators.Numbering
      .numberBySort(keyed, "__sk", "__rn")
      .select(col("__id"), col("__sh"), col("__rn"))
    val fanned = ranked
      .select(col("__id").as("__ida"), col("__sh").as("__sha"),
        explode(sequence(lit(1), lit(window - 1))).as("__d"),
        col("__rn"))
      .withColumn("__rn", col("__rn") + col("__d"))
      .drop("__d")
    fanned.join(ranked, Seq("__rn"))
      .withColumn("jac", round(jaccard(col("__sha"), col("__sh")), 4))
      .filter(col("jac") >= threshold)
      .select(least(col("__ida"), col("__id")).as("id1"),
        greatest(col("__ida"), col("__id")).as("id2"),
        col("jac"))
  }

  /** Content-defined chunk boundaries (Manber, USENIX WTC '94 "Finding
    * Similar Files") — the sub-document dedup granularity: cut after
    * character position i+k-1 whenever the k-gram starting at i hashes to
    * 0 mod `divisor`. Boundaries depend only on LOCAL content, so an
    * insertion or deletion re-chunks at most the neighborhood of the edit
    * while every chunk outside it survives byte-identical — the property
    * fixed-size chunking lacks and the reason CDC is the storage/corpus
    * dedup standard for near-identical document versions.
    *
    * This is the ORIGINAL stateless Manber rule, not FastCDC: no min/max
    * chunk clamps, because those make each cut depend on the previous
    * kept cut (sequential state), while the pure rule is decidable
    * per-position — embarrassingly parallel in Spark (one HOF pass per
    * row, no shuffle) and replayable by any SQL engine with md5
    * (list_transform/list_filter in the DuckDB oracle). Expected chunk
    * length is `divisor` characters; oversized chunks are rare
    * geometric-tail events the dedup measures tolerate.
    *
    * The hash is the portable 60-bit md5 scheme ([[portableShingleHashes]]),
    * so boundaries are bit-identical cross-engine. Returns the sorted
    * boundary array [0, cuts..., len] (strictly increasing, so every
    * derived chunk is non-empty).
    */
  def cdcBoundaries(text: Column, k: Int, divisor: Int): Column = {
    val L = length(text)
    val starts = when(L >= k, sequence(lit(1), L - (k - 1)))
      .otherwise(array().cast("array<int>"))
    val cuts = filter(
      transform(starts, i =>
        when(pmod(conv(substring(md5(text.substr(i, lit(k))), 1, 15), 16, 10)
          .cast("long"), lit(divisor.toLong)) === 0L, i + (k - 1))),
      x => x.isNotNull)
    array_sort(array_distinct(
      concat(array(lit(0)), cuts, array(L))))
  }

  // --- rolling-hash CDC kernel -----------------------------------------
  // The md5 rule above is the portable/oracle mode but costs a full md5
  // per POSITION (O(len) digest invocations per document — the round-7
  // bench's costliest query). This variant is the same stateless Manber
  // rule under a 64-bit-arithmetic polynomial hash mod 2^31-1: one O(1)
  // rolling update per position, ~10× cheaper, still deterministic and
  // directly replayable in DuckDB as the NAIVE per-position polynomial
  // (the DedupSpec differential proves rolling == naive on random
  // corpora, so the O(1) update introduces no drift).

  /** Mersenne-prime modulus: products stay within a signed 64-bit long
    * (codepoint < 2^21, B·h < 2^39 after reduction — no overflow under
    * ANSI arithmetic).
    */
  val CdcM: Long = 2147483647L // 2^31 - 1
  val CdcB: Long = 131L

  /** JVM kernel (also the codegen target): boundary array [0, cuts.., L]
    * over CODEPOINTS (matching Spark's substring/length semantics), cut
    * after position i+k-1 whenever the k-gram hash at i is 0 mod divisor.
    */
  def cdcRollingCuts(s: org.apache.spark.unsafe.types.UTF8String, k: Int,
      divisor: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val cps = s.toString.codePoints().toArray
    val L = cps.length
    val out = new scala.collection.mutable.ArrayBuffer[Int](2 + L / divisor)
    out += 0
    if (L >= k) {
      var bk1 = 1L
      var j = 1
      while (j < k) { bk1 = bk1 * CdcB % CdcM; j += 1 }
      var h = 0L
      j = 0
      while (j < k) { h = (h * CdcB + cps(j)) % CdcM; j += 1 }
      var i = 0
      var more = true
      while (more) {
        if (h % divisor == 0) out += i + k
        if (i + k < L) {
          // ((h - cp_out·B^(k-1))·B + cp_in) mod M; the +M keeps the
          // difference non-negative, ·B stays < 2^40
          h = ((h - cps(i) * bk1 % CdcM + CdcM) * CdcB + cps(i + k)) % CdcM
          i += 1
        } else more = false
      }
    }
    if (out.last != L) out += L
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  case class CdcRollingBoundaries(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      k: Int, divisor: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.types._
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression) = copy(child = c)
    override def nullSafeEval(input: Any): Any =
      cdcRollingCuts(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        k, divisor)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
      defineCodeGen(ctx, ev,
        c => s"graft.pipeline.Dedup.cdcRollingCuts($c, $k, $divisor)")
  }

  /** [[cdcBoundaries]] under the rolling polynomial hash: same boundary
    * array contract, O(1) per position instead of one md5 per position.
    */
  def cdcBoundariesRolling(text: Column, k: Int, divisor: Int): Column = {
    val B = org.apache.spark.sql.graft.ColumnBridge
    B.column(CdcRollingBoundaries(B.expression(text), k, divisor))
  }

  /** Slice `text` by a [[cdcBoundaries]] array into the chunk strings.
    * Guarded for the empty-text boundary array [0]: sequence(1, 0) in
    * Spark is the DESCENDING array [1, 0], whose element_at(b, 0) would
    * throw — an empty text has zero chunks, not an error.
    */
  def cdcSlices(text: Column, b: Column): Column =
    when(size(b) >= 2,
      transform(sequence(lit(1), size(b) - 1), j =>
        text.substr(element_at(b, j) + 1,
          element_at(b, j + 1) - element_at(b, j))))
      .otherwise(array().cast("array<string>"))

  /** CDC dedup report: chunk every document, key chunks by content md5,
    * and measure per-document how much of its byte volume is shared with
    * OTHER documents at chunk granularity — the sub-document complement
    * to [[exact]] (whole-doc) and [[minhashLsh]] (similarity): two docs
    * that share a long verbatim span but differ elsewhere show up here
    * with high `share_ratio` even when their Jaccard is low.
    *
    * Scale shape: chunking is a narrow per-row pass; the chunk TEXT never
    * crosses a shuffle — instances project to (doc, md5-key, length)
    * before the key aggregation, and the per-doc rollup joins instances
    * to key stats on the key. At 100 TB that is one ids-and-hashes
    * shuffle keyed by chunk digest (high fan-out, no hot key: digests are
    * uniform) plus one by doc id.
    *
    * Output: (id, n_chunks, n_shared_chunks, shared_bytes, total_bytes,
    * share_ratio) — a chunk instance is "shared" iff its content occurs
    * in >= 2 distinct documents.
    */
  /** EXACT substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" §4.1 — the ExactSubstr form):
    * every maximal text span covered by a length-`minLen` window whose
    * content occurs in ≥ 2 distinct documents is REMOVED from each
    * document. Where the paper builds one giant suffix array, the
    * distributed form hashes every stride-`stride` window (md5-portable,
    * so an external engine replays the verdicts), keeps hashes seen in
    * ≥ 2 docs, and merges each doc's hit windows into maximal spans —
    * two shuffles, both carrying only (doc, pos, hash64) rows, never
    * text. The window table is deliberately NOT pinned: it is
    * corpus-×-positions-sized (the one frame in this pipeline that must
    * never be materialized), and its two consumers each stream it from
    * a deterministic recompute instead.
    *
    * `stride` > 1 trades sensitivity for window count: windows start
    * every `stride` chars, so only duplicated regions of length
    * ≥ minLen + stride − 1 are guaranteed detected (the paper's
    * suffix-array form is stride 1). Span semantics: a span is the
    * union of the [pos, pos+minLen) windows it merges — the standard
    * "every position covered by a duplicated window" rule.
    *
    * `winnow` > 1 is the documented FAST mode for the 100 TB path
    * (robust winnowing, Schleimer et al. 2003 §4, over the stride-1
    * hash stream): each window of `winnow` consecutive position-hashes
    * selects its rightmost minimum, and duplicate detection runs over
    * the ~2/winnow selected positions instead of all of them — the
    * shuffled row count (the stride-1 probe's cost driver at 100×)
    * drops by ~winnow/2 while the winnowing theorem still GUARANTEES a
    * shared selected fingerprint for any duplicated region of length
    * ≥ minLen + winnow − 1. What the sampled mode can honestly miss:
    * duplicated regions SHORTER than that threshold may go undetected,
    * and a detected region's reported span covers only its selected
    * duplicated windows — boundaries shrink by up to winnow−1 chars
    * per side and a long region can fragment into several spans where
    * the two copies' selections interleave. Every reported span is
    * still genuinely duplicated content (selected hits re-verify
    * against the same cross-doc hash evidence as the exact mode).
    * The default winnow = 1 IS the exact mode, bit-identical to the
    * pre-winnowing operator.
    *
    * Output: (id, n_spans, removed_chars, n_chars_clean, clean_md5) —
    * the md5 witnesses the RECONSTRUCTED cleaned text byte-for-byte
    * without shipping it anywhere.
    */
  def substringDedup(docs: DataFrame, id: String, text: String,
      minLen: Int, stride: Int = 1,
      hasher: Column => Column = xxhash64(_),
      winnow: Int = 1): DataFrame = {
    val base = substrPrep(docs, id, text)
    def hitSource = substrWindows(base, minLen, stride, hasher, winnow)
    // cross-doc test: countDistinct, NOT min≠max — measured at the 100×
    // probe (xxhash64 default path, this host window, back-to-back A/B):
    // countDistinct 66.3/90.1 s vs min≠max 81.6/105.0/113.2 s min2. The
    // single-exchange min/max form loses to the distinct expansion here —
    // its per-group min+max buffers make the partial-agg hash map heavier
    // over the ~all-distinct window-hash space, while the (h, id) partial
    // dedup is key-only. Kept the measured winner (guide §1: measure, not
    // plausibility).
    val dupHashes = hitSource.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__h"))
    val hits = hitSource.join(dupHashes, Seq("__h"), "left_semi")
      .select(col("__id"), col("pos"))
    substrReports(base, hits, minLen, id)
  }

  /** The (\_\_id, \_\_t, \_\_n) projection every ExactSubstr stage
    * consumes. */
  private[pipeline] def substrPrep(docs: DataFrame, id: String,
      text: String): DataFrame =
    docs.select(col(id).as("__id"), col(text).as("__t"),
      length(col(text)).as("__n"))

  /** The (\_\_id, pos, \_\_h) window-hash stream [[substringDedup]]'s
    * duplicate detection runs over — stride-`stride` window hashes,
    * winnowed down to the robust-winnowing selection when `winnow` > 1.
    * Deliberately a `def`-style recompute for its consumers (see the
    * [[substringDedup]] scaladoc: the stream is corpus-×-positions
    * sized, the one frame that must never be materialized).
    */
  private[pipeline] def substrWindows(base: DataFrame, minLen: Int,
      stride: Int, hasher: Column => Column, winnow: Int): DataFrame = {
    require(minLen >= 8, s"minLen must be >= 8: $minLen")
    require(stride >= 1, s"stride must be >= 1: $stride")
    require(winnow >= 1 && winnow <= minLen,
      s"winnow must be in [1, minLen]: $winnow — selected positions sit " +
        "up to winnow-1 apart, and beyond minLen the island merge would " +
        "split single duplicated regions")
    require(winnow == 1 || stride == 1,
      "winnowing samples the stride-1 hash stream; compose one or the other")
    // hasher: codegen'd xxhash64 by default (the corpus pays two window
    // sweeps, so hash cost doubles — md5 measured 111.7 s vs 66.9 s
    // xxhash64 at the 100x probe); pass [[portableHash]] where an
    // external oracle must replay the verdicts
    def windows = base
      .filter(col("__n") >= minLen)
      .select(col("__id"),
        explode(sequence(lit(1L), (col("__n") - minLen + 1L).cast("long"),
          lit(stride.toLong))).as("pos"),
        col("__t"))
      .select(col("__id"), col("pos"),
        hasher(col("__t").substr(col("pos").cast("int"),
          lit(minLen))).as("__h"))
    // winnow > 1: the rightmost-min selection is a ZERO-SHUFFLE
    // monotonic-deque sweep. The window stream arrives doc-contiguous
    // and pos-ascending within every partition by construction (each
    // doc row explodes to its windows in generation order and nothing
    // between the explode and this kernel exchanges rows), so the
    // trailing-w minimum never needs the by-doc repartition+sort a SQL
    // window function would force — that sort ran TWICE (hitSource has
    // two consumers) and ate most of the sampling win at 100×
    // (59 s deque-free vs 43 s with it; exact mode 81 s, same window).
    // Leading partial windows select too — a superset of the paper's
    // selection, which only adds verified candidates, never loses the
    // guarantee. Selection semantics (rightmost min on ties, partial
    // leading windows) are pinned by DedupSpec's local replay.
    if (winnow == 1) windows
    else {
      val src = windows
      val enc = org.apache.spark.sql.Encoders.row(src.schema)
      src.mapPartitions { rows =>
        // deque of (h, pos), h strictly increasing front→back; the
        // front is the window minimum, ties resolved rightmost by
        // the >= pop below. Front positions only advance, so the
        // lastPos guard deduplicates re-selections completely.
        val deque = new java.util.ArrayDeque[(Long, Long)]()
        var curId: Any = null
        var lastPos = -1L
        rows.flatMap { r =>
          val id = r.get(0); val pos = r.getLong(1); val h = r.getLong(2)
          if (id != curId) { deque.clear(); curId = id; lastPos = -1L }
          while (!deque.isEmpty && deque.peekLast()._1 >= h)
            deque.pollLast()
          deque.addLast((h, pos))
          while (deque.peekFirst()._2 <= pos - winnow)
            deque.pollFirst()
          val (mh, mp) = deque.peekFirst()
          if (mp != lastPos) {
            lastPos = mp
            Some(org.apache.spark.sql.Row(curId, mp, mh))
          } else None
        }
      }(enc)
    }
  }

  /** Hit windows (\_\_id, pos) → the per-doc report [[substringDedup]]
    * emits: gaps-and-islands span merge, slice reassembly, md5 witness.
    */
  private[pipeline] def substrReports(base: DataFrame, hits: DataFrame,
      minLen: Int, id: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // merge hit windows into maximal spans: classic gaps-and-islands —
    // a window opens a new span iff it starts past the running max end
    // of everything before it. Per-doc ordered window: document length
    // bounds the partition, never corpus size.
    val prevEnd = max(col("pos") + minLen).over(
      Window.partitionBy(col("__id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val islands = hits
      .withColumn("__new",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        Window.partitionBy(col("__id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val spans = islands.groupBy(col("__id"), col("__isl"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + minLen).as("e"))
    val perDoc = spans.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("removed_chars"),
        sort_array(collect_list(struct(col("s"), col("e")))).as("__sp"))
    // rebuild the cleaned text with one codegen fold over the (bounded,
    // per-doc) span list: emit [prev, s) before each span, then the tail
    val cleaned = base.join(perDoc, Seq("__id"), "left")
      .withColumn("__clean", aggregate(
        coalesce(col("__sp"),
          array().cast("array<struct<s:bigint,e:bigint>>")),
        struct(lit("").as("out"), lit(1L).as("prev")),
        (acc, sp) => struct(
          concat(acc.getField("out"),
            col("__t").substr(acc.getField("prev").cast("int"),
              (sp.getField("s") - acc.getField("prev")).cast("int")))
            .as("out"),
          sp.getField("e").as("prev")),
        acc => concat(acc.getField("out"),
          col("__t").substr(acc.getField("prev").cast("int"),
            (col("__n") - acc.getField("prev") + 1L).cast("int")))))
    cleaned.select(col("__id").as(id),
      coalesce(col("n_spans"), lit(0L)).as("n_spans"),
      coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
      length(col("__clean")).cast("long").as("n_chars_clean"),
      md5(col("__clean")).as("clean_md5"))
  }

  def cdcDedup(docs: DataFrame, id: String, text: String,
      k: Int, divisor: Int, rolling: Boolean = false): DataFrame = {
    val bounds =
      if (rolling) cdcBoundariesRolling(col("__t"), k, divisor)
      else cdcBoundaries(col("__t"), k, divisor)
    val base = docs.filter(length(col(text)) >= 1)
      .select(col(id).as("__id"), col(text).as("__t"))
      .withColumn("__b", bounds)
      .withColumn("__cs", cdcSlices(col("__t"), col("__b")))
    val inst = base
      .select(col("__id"), explode(col("__cs")).as("__c"))
      .select(col("__id"), md5(col("__c")).as("__key"),
        length(col("__c")).cast("long").as("__len"))
    val stats = inst.groupBy(col("__key"))
      .agg(countDistinct(col("__id")).as("__n_docs"))
    inst.join(stats, "__key")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__n_docs") >= 2, 1L).otherwise(0L))
          .as("n_shared_chunks"),
        sum(when(col("__n_docs") >= 2, col("__len")).otherwise(0L))
          .as("shared_bytes"),
        sum(col("__len")).as("total_bytes"))
      .select(col("__id").as(id), col("n_chunks"), col("n_shared_chunks"),
        col("shared_bytes"), col("total_bytes"),
        round(col("shared_bytes").cast("double") /
          col("total_bytes").cast("double"), 4).as("share_ratio"))
  }
}
