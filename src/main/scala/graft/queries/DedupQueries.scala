package graft.queries

import graft.Tables
import graft.functions.Vectors.ShingleHash
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Dedup operator family over `documents` (builder-prompt pipeline surface):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard. Exact and Jaccard have
  * DuckDB oracles; the hash-defined ones (engine-specific xxhash64) are
  * covered by DedupSpec golden tests instead.
  */
object DedupQueries extends QueryModule {

  // Exact dedup: canonical id + copy count per distinct content hash.
  private val dedupExact = Q(
    "dedup_exact",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.exact(docs, "doc_id", "text")
        .orderBy(col("content_hash"))
    },
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
                   count(1) AS n_copies
            FROM documents GROUP BY content_hash ORDER BY content_hash"""))

  // n-gram Jaccard similarity: query docs vs the corpus, exact set overlap
  // on distinct word 2-grams (the verification stage of a near-dup pipeline).
  private val dedupJaccard = Q(
    "dedup_ngram_jaccard",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // no cache: the query side's doc_id filter is pushed below the
      // deterministic shingle projection, so it shingles nine rows, and
      // a cached withSh would be a CacheManager entry nothing releases
      val withSh = docs.select(col("doc_id"),
        Dedup.shingles(col("text"), 2).as("sh"))
      val q = withSh.filter(col("doc_id") < 10)
        .select(col("doc_id").as("id1"), col("sh").as("sh1"))
      val c = withSh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
      c.join(broadcast(q), col("id1") < col("id2"))
        .withColumn("jac", round(Dedup.jaccard(col("sh1"), col("sh2")), 4))
        .filter(col("jac") >= 0.05)
        .select(col("id1"), col("id2"), col("jac"))
        .orderBy(col("id1"), col("id2"))
    },
    Some("""WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(string_split_regex(lower(text), '\s+')), 1)),
                       i -> list_aggregate(
                              string_split_regex(lower(text), '\s+')[i:i+1],
                              'string_agg', ' '))) AS grams
              FROM documents)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / len(list_distinct(a.grams || b.grams)), 4) AS jac
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE a.doc_id < 10
              AND round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                        / len(list_distinct(a.grams || b.grams)), 4) >= 0.05
            ORDER BY id1, id2"""))

  // Exact shingle containment — the ASYMMETRIC near-dup Jaccard misses
  // (short doc quoted inside a long one: containment ≈ 1, Jaccard tiny).
  // Stop-grams (df > 20) drop BEFORE pairing on both sides — the
  // documented semantics that also bounds the inverted-index join at
  // scale (a gram joins ≤ maxDf² pairs). Oracle replays gram sets, the
  // df cap, pair intersections, and the min-size denominator.
  private val dedupContainment = Q(
    "dedup_containment",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.containmentPairs(docs, "doc_id",
          Dedup.shingles(col("text"), 3), t = 0.6, maxDf = 20)
        .orderBy(col("id1"), col("id2"))
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
              FROM w),
            gr AS (SELECT doc_id, unnest(grams) AS g FROM sh),
            keepg AS (SELECT g FROM (
                        SELECT g, count(1) AS df FROM gr GROUP BY g) t
                      WHERE df <= 20),
            kept AS (SELECT gr.doc_id, gr.g FROM gr JOIN keepg USING (g)),
            sizes AS (SELECT doc_id, count(1) AS n FROM kept GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(1) AS inter
              FROM kept a JOIN kept b
                ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT i.id1, i.id2, CAST(i.inter AS BIGINT) AS inter,
                   round(CAST(i.inter AS DOUBLE) / least(s1.n, s2.n), 4)
                     AS containment
            FROM inter i JOIN sizes s1 ON s1.doc_id = i.id1
                         JOIN sizes s2 ON s2.doc_id = i.id2
            WHERE round(CAST(i.inter AS DOUBLE) / least(s1.n, s2.n), 4) >= 0.6
            ORDER BY id1, id2"""))

  // Bottom-k sketch containment — the SCALE path for dedup_containment:
  // each doc reduces to its k=16 smallest md5-derived gram hashes plus
  // its true gram count; candidates form where sketches collide; the
  // merged-sketch estimator (Broder) yields Jaccard and containment
  // WITHOUT ever joining gram sets. Fully deterministic (md5 hashes, no
  // RNG), so the oracle replays sketch, buckets, pairs, and estimator
  // value-for-value.
  private val dedupContainmentSketch = Q(
    "dedup_containment_sketch",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.containmentSketchPairs(docs, "doc_id",
          Dedup.shingles(col("text"), 3), t = 0.5, k = 16)
        .orderBy(col("id1"), col("id2"))
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(w) - 1, 1)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS grams
              FROM w),
            hs AS (
              SELECT doc_id,
                     list_sort(list_distinct(list_transform(grams,
                       g -> ('0x'||substr(md5(g),1,15))::BIGINT))) AS hs
              FROM sh WHERE len(grams) > 0),
            sk AS (
              SELECT doc_id, hs[1:16] AS sk, len(hs)::BIGINT AS n FROM hs),
            ex AS (SELECT doc_id, unnest(sk) AS h FROM sk),
            keeph AS (SELECT h FROM (
                        SELECT h, count(1) AS df FROM ex GROUP BY h) t
                      WHERE df >= 2 AND df <= 1000),
            cand AS (
              SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              FROM ex a JOIN keeph USING (h)
                        JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id),
            est AS (
              SELECT c.id1, c.id2, s1.n AS n1, s2.n AS n2,
                     len(list_intersect(list_intersect(
                       (list_sort(list_distinct(s1.sk || s2.sk)))
                         [1:least(len(list_distinct(s1.sk || s2.sk)), 16)],
                       s1.sk), s2.sk))::DOUBLE
                       / least(len(list_distinct(s1.sk || s2.sk)), 16) AS j
              FROM cand c JOIN sk s1 ON s1.doc_id = c.id1
                          JOIN sk s2 ON s2.doc_id = c.id2)
            SELECT id1, id2, round(j, 4) AS est_jaccard,
                   round(j / (1 + j) * (n1 + n2) / least(n1, n2), 4)
                     AS est_containment
            FROM est
            WHERE round(j / (1 + j) * (n1 + n2) / least(n1, n2), 4) >= 0.5
            ORDER BY id1, id2"""))

  // Shared oracle fragment: the full MinHash+LSH replay — shingling, the
  // k=64 md5-derived signature, 16-band bucketing (bucket equality =
  // signature-slice equality), pair generation, agreement estimate. `est`
  // yields (id1, id2, est_jaccard ROUNDED 4dp); est is in exact multiples
  // of 1/64, so the 0.1 gate sits on no rounding boundary.
  private val minhashCtesSql =
    """words AS (
         SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
         FROM documents),
       grams AS (
         SELECT doc_id,
                list_distinct(list_transform(generate_series(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1])) AS g
         FROM words
         WHERE len(w) >= 2),
       hm AS (
         SELECT doc_id,
                (('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT) % 2147483647 AS hm
         FROM grams),
       coefs AS (
         SELECT i,
                ((('0x' || substr(md5('graft-mh-a-42-' || i), 1, 15))::BIGINT) % 2147483646) + 1 AS a,
                (('0x' || substr(md5('graft-mh-b-42-' || i), 1, 15))::BIGINT) % 2147483647 AS b
         FROM range(0, 64) r(i)),
       sigvals AS (
         SELECT doc_id, i, min((hm * a + b) % 2147483647) AS s
         FROM hm, coefs GROUP BY doc_id, i),
       sigs AS (
         SELECT doc_id, list(s ORDER BY i) AS sig FROM sigvals GROUP BY doc_id),
       banded AS (
         SELECT doc_id, t.t AS t,
                array_to_string(sig[t.t*4+1 : t.t*4+4], ',') AS key
         FROM sigs, range(0, 16) t(t)),
       pairs AS (
         SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
         FROM banded x JOIN banded y
           ON x.t = y.t AND x.key = y.key AND x.doc_id < y.doc_id),
       est AS (
         SELECT p.id1, p.id2,
                round(list_sum(list_transform(generate_series(1, 64),
                    i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) / 64.0, 4) AS est_jaccard
         FROM pairs p
         JOIN sigs s1 ON p.id1 = s1.doc_id
         JOIN sigs s2 ON p.id2 = s2.doc_id)"""

  // Near-dup pairs materialized once per (session, corpus) — the real
  // pipeline computes signatures/pairs once and every consumer (pair
  // report, cluster+canonicalize) reads the materialization, the same
  // posture as the reference's scheme caches. The memo owns the pin
  // minhashLsh returns (its signatures are already released); the pin's
  // blocks go when the session's context stops.
  private def minhashPairs(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.SessionMemo(s, "dedup.pairs", dir)(
      Dedup.minhashLsh(Tables.load(s, dir, "documents"), "doc_id",
        "text", shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.1,
        hasher = ShingleHash.Md5Portable))

  // MinHash + LSH near-dup candidates over portable (md5-derived) shingle
  // hashes and md5-derived universal-hash coefficients: the oracle replays
  // the whole pipeline (shared fragment above).
  private val dedupMinhash = Q(
    "dedup_minhash_lsh",
    (s, dir) => {
      minhashPairs(s, dir)
        .withColumn("est_jaccard", round(col("est_jaccard"), 4))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""WITH $minhashCtesSql
             SELECT id1, id2, est_jaccard FROM est
             WHERE est_jaccard >= 0.1
             ORDER BY id1, id2"""))

  // Cluster + canonicalize: the step that turns near-dup PAIRS into an
  // actual deduplication — connected components over the MinHash edge set
  // (transitive closure: A~B, B~C dedups A,B,C together even if A,C never
  // paired), canonical survivor = min doc_id per cluster, keep = doc is
  // its own canonical. Every document gets a verdict (singletons keep
  // themselves). Oracle: the shared MinHash replay + recursive-CTE
  // closure with the same min-id naming rule.
  // Verdicts materialize once per (session, corpus), like the pair memo:
  // dedup_cluster, dedup_soft, and the sizes rollup all consume the same
  // materialization instead of re-running the iterative component search.
  private[graft] def clusterVerdicts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.SessionMemo.cached(s, "dedup.verdicts", dir) {
      val docs = Tables.load(s, dir, "documents")
      val pairs = minhashPairs(s, dir)
      val cc = graft.operators.Clustering.connectedComponents(
        pairs.select(col("id1").as("src"), col("id2").as("dst")))
      docs.select(col("doc_id"))
        .join(cc.select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical_id"),
          (coalesce(col("component"), col("doc_id")) === col("doc_id"))
            .as("keep"))
    }

  private val dedupCluster = Q(
    "dedup_cluster",
    (s, dir) => clusterVerdicts(s, dir).orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $minhashCtesSql,
             fp AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.1),
             edges AS (SELECT id1 AS src, id2 AS dst FROM fp
                       UNION SELECT id2, id1 FROM fp),
             nodes AS (SELECT DISTINCT doc_id AS node FROM documents),
             reach AS (
               SELECT node AS src, node AS dst FROM nodes
               UNION
               SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
             SELECT src AS doc_id, min(dst) AS canonical_id,
                    min(dst) = src AS keep
             FROM reach GROUP BY src ORDER BY doc_id"""))

  // Quality-aware canonical selection: same near-dup clusters as
  // dedup_cluster (the memoized component build), but survivorship goes
  // to the highest-stopword-density member (ties to the smallest id)
  // instead of the smallest id — keep the clean original, not whichever
  // mirror crawled first. Oracle = the full recursive component replay
  // plus a rank-1 window for the argmax.
  private val dedupCanonicalQuality = Q(
    "dedup_canonical_quality",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val f = graft.pipeline.TextAnalysis.qualityFeatures(col("text"),
        graft.pipeline.TextAnalysis.DefaultStopwords)
      val scored = docs.select(col("doc_id"),
        f.getField("stopword_ratio").as("__q"))
      val members = clusterVerdicts(s, dir)
        .select(col("doc_id"), col("canonical_id").as("cluster_id"))
        .join(scored, Seq("doc_id"))
      val best = Dedup.canonicalByQuality(members, "doc_id", "cluster_id",
        col("__q"))
      members.join(best, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          round(col("__q"), 4).as("quality"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $minhashCtesSql,
             fp AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.1),
             edges AS (SELECT id1 AS src, id2 AS dst FROM fp
                       UNION SELECT id2, id1 FROM fp),
             nodes AS (SELECT DISTINCT doc_id AS node FROM documents),
             reach AS (
               SELECT node AS src, node AS dst FROM nodes
               UNION
               SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
                      FROM reach GROUP BY src),
             t AS (
               SELECT doc_id,
                      CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                        AS toks,
                      CAST(len(list_filter(
                        string_split_regex(lower(trim(text)), '\\s+'),
                        w -> w IN ('the','a','an','and','or','of','to','in')))
                        AS DOUBLE) AS stops
               FROM documents),
             q AS (
               SELECT doc_id,
                      CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END AS dens
               FROM t),
             best AS (
               SELECT cluster_id, doc_id AS canonical_id FROM (
                 SELECT c.cluster_id, q.doc_id,
                        row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY q.dens DESC, q.doc_id) AS r
                 FROM comp c JOIN q USING (doc_id)) t
               WHERE r = 1)
             SELECT c.doc_id, c.cluster_id, round(q.dens, 4) AS quality,
                    b.canonical_id, c.doc_id = b.canonical_id AS keep
             FROM comp c JOIN q USING (doc_id)
                         JOIN best b USING (cluster_id)
             ORDER BY doc_id"""))

  // SimHash signatures over md5-derived (cross-engine-reproducible) shingle
  // hashes: the oracle replays shingling, hashing, and the per-bit vote in
  // SQL. Bits 60-63 are structurally 0 on both sides (60-bit hashes).
  private val dedupSimhash = Q(
    "dedup_simhash",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          Dedup.simhash(Dedup.portableShingleHashes(
            Dedup.shingles(col("text"), 2))).as("simhash"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH words AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents),
            grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(generate_series(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1])) AS g
              FROM words),
            hv AS (
              SELECT doc_id, ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT AS h
              FROM grams),
            votes AS (
              SELECT doc_id, r.b AS b,
                     SUM(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hv, range(0, 60) r(b)
              GROUP BY doc_id, r.b),
            sim AS (
              SELECT doc_id, SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
              FROM votes GROUP BY doc_id)
            SELECT d.doc_id, CAST(COALESCE(sim.simhash, 0) AS BIGINT) AS simhash
            FROM documents d LEFT JOIN sim USING (doc_id)
            ORDER BY doc_id"""))

  // Substring-level dedup (Lee et al. 2022 exact-substring signal at
  // 5-gram granularity): duplicated positions → merged per-doc spans.
  // Full replay oracle: DuckDB recomputes shingle hashes, the corpus-wide
  // duplicate set, and the gaps-and-islands merge.
  private val dedupSubstring = Q(
    "dedup_substring",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.dupSpans(docs, "doc_id", "text", k = 5)
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
              FROM documents),
            occ AS (
              SELECT doc_id,
                     unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS pos,
                     ws
              FROM w),
            hashed AS (
              SELECT doc_id, pos,
                     ('0x' || substr(md5(list_aggregate(ws[pos:pos+4],
                        'string_agg', ' ')), 1, 15))::BIGINT AS h
              FROM occ),
            dups AS (SELECT h FROM hashed GROUP BY h HAVING count(*) > 1),
            dpos AS (SELECT doc_id, pos FROM hashed JOIN dups USING (h)),
            isl AS (
              SELECT doc_id, pos,
                     CASE WHEN pos <= lag(pos) OVER
                            (PARTITION BY doc_id ORDER BY pos) + 5
                          THEN 0 ELSE 1 END AS brk
              FROM dpos),
            isl2 AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM isl),
            spans AS (
              SELECT doc_id, island, min(pos) AS s, max(pos) AS e
              FROM isl2 GROUP BY doc_id, island),
            agg AS (
              SELECT doc_id, count(1) AS n_dup_spans,
                     CAST(sum(e + 4 - s + 1) AS BIGINT) AS n_dup_tokens
              FROM spans GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
                   COALESCE(a.n_dup_tokens, 0) AS n_dup_tokens
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY d.doc_id"""))

  // EXACT substring REMOVAL (Lee et al. 2022's ExactSubstr, the step
  // dedup_substring's span DETECTION stops short of): every maximal
  // span covered by a 40-char window whose content appears in >= 2
  // distinct documents is cut, and the cleaned text is REBUILT —
  // byte-witnessed by its md5, so the oracle proves the reconstruction,
  // not just the span arithmetic. Windows hash md5-portably; the
  // oracle replays windows → cross-doc dup hashes → gaps-and-islands
  // span merge → slice reassembly, and string equality closes it.
  private val dedupSubstringRemove = Q(
    "dedup_substring_remove",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.substringDedup(docs, "doc_id", "text", minLen = 40,
          hasher = Dedup.portableHash)
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
            w AS (SELECT doc_id, unnest(range(1, n - 40 + 2)) AS pos
                  FROM d WHERE n >= 40),
            wh AS (SELECT w.doc_id, pos,
                     ('0x' || substr(md5(substr(d.text, CAST(pos AS INT),
                        40)), 1, 15))::BIGINT AS h
                   FROM w JOIN d ON w.doc_id = d.doc_id),
            dup AS (SELECT h FROM wh GROUP BY h
                    HAVING count(DISTINCT doc_id) >= 2),
            hits AS (SELECT doc_id, pos FROM wh
                     WHERE h IN (SELECT h FROM dup)),
            isl AS (SELECT doc_id, pos,
                      CASE WHEN pos > coalesce(max(pos + 40) OVER
                             (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0)
                           THEN 1 ELSE 0 END AS brk
                    FROM hits),
            isl2 AS (SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id
                         ORDER BY pos) AS island
                     FROM isl),
            spans AS (SELECT doc_id, island, min(pos) AS s,
                        max(pos) + 40 AS e
                      FROM isl2 GROUP BY 1, 2),
            slices AS (
              SELECT doc_id,
                     coalesce(lag(e) OVER (PARTITION BY doc_id
                       ORDER BY s), 1) AS st,
                     s AS en
              FROM spans
              UNION ALL
              SELECT sp.doc_id, max(sp.e), max(d2.n) + 1
              FROM spans sp JOIN d d2 ON sp.doc_id = d2.doc_id
              GROUP BY sp.doc_id),
            clean AS (
              SELECT sl.doc_id,
                     string_agg(substr(d3.text, CAST(st AS INT),
                       CAST(en - st AS INT)), '' ORDER BY st) AS ct
              FROM slices sl JOIN d d3 ON sl.doc_id = d3.doc_id
              GROUP BY sl.doc_id),
            agg AS (SELECT doc_id, count(*) AS n_spans,
                      CAST(sum(e - s) AS BIGINT) AS removed_chars
                    FROM spans GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(a.n_spans, 0) AS n_spans,
                   coalesce(a.removed_chars, 0) AS removed_chars,
                   CAST(length(coalesce(c.ct, d.text)) AS BIGINT)
                     AS n_chars_clean,
                   md5(coalesce(c.ct, d.text)) AS clean_md5
            FROM d LEFT JOIN agg a USING (doc_id)
                   LEFT JOIN clean c USING (doc_id)
            ORDER BY d.doc_id"""))

  // WINNOWED ExactSubstr (the shipped 100 TB fast mode): same pipeline as
  // dedup_substring_remove, but duplicate detection runs over the robust-
  // winnowing selection (Schleimer et al. 2003 §4) of the stride-1 window
  // hash stream — each trailing window of w=8 consecutive position-hashes
  // selects its rightmost minimum, ~2/(w+1) of positions survive, and the
  // ZERO-SHUFFLE monotonic-deque sweep that does it is the whole sampling
  // win at 100× (23.5 s vs 111.7 s md5-portable exact). The oracle replays
  // the ENTIRE sampled pipeline: stride-1 hashes → trailing-8 rightmost-min
  // selection (window `min` over (h, -pos) struct order — min -pos = the
  // RIGHTMOST position among tied minima, exactly the deque's `>=`-pop
  // tie-break; partial leading frames select too, matching the kernel's
  // from-the-first-position emission) → DISTINCT on the selected position
  // (the deque's lastPos dedup: front positions only advance, so
  // re-selections are the only repeats) → cross-doc dup-hash filter over
  // SELECTED rows only → gaps-and-islands merge → slice reassembly, closed
  // by the reconstruction md5.
  private val dedupSubstringWinnow = Q(
    "dedup_substring_winnow",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.substringDedup(docs, "doc_id", "text", minLen = 40,
          hasher = Dedup.portableHash, winnow = 8)
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
            w AS (SELECT doc_id, unnest(range(1, n - 40 + 2)) AS pos
                  FROM d WHERE n >= 40),
            wh AS (SELECT w.doc_id, pos,
                     ('0x' || substr(md5(substr(d.text, CAST(pos AS INT),
                        40)), 1, 15))::BIGINT AS h
                   FROM w JOIN d ON w.doc_id = d.doc_id),
            selw AS (SELECT doc_id,
                       min(struct_pack(h := h, np := -pos)) OVER
                         (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS m
                     FROM wh),
            sel AS (SELECT DISTINCT doc_id,
                      -struct_extract(m, 'np') AS pos,
                      struct_extract(m, 'h') AS h
                    FROM selw),
            dup AS (SELECT h FROM sel GROUP BY h
                    HAVING count(DISTINCT doc_id) >= 2),
            hits AS (SELECT doc_id, pos FROM sel
                     WHERE h IN (SELECT h FROM dup)),
            isl AS (SELECT doc_id, pos,
                      CASE WHEN pos > coalesce(max(pos + 40) OVER
                             (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0)
                           THEN 1 ELSE 0 END AS brk
                    FROM hits),
            isl2 AS (SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id
                         ORDER BY pos) AS island
                     FROM isl),
            spans AS (SELECT doc_id, island, min(pos) AS s,
                        max(pos) + 40 AS e
                      FROM isl2 GROUP BY 1, 2),
            slices AS (
              SELECT doc_id,
                     coalesce(lag(e) OVER (PARTITION BY doc_id
                       ORDER BY s), 1) AS st,
                     s AS en
              FROM spans
              UNION ALL
              SELECT sp.doc_id, max(sp.e), max(d2.n) + 1
              FROM spans sp JOIN d d2 ON sp.doc_id = d2.doc_id
              GROUP BY sp.doc_id),
            clean AS (
              SELECT sl.doc_id,
                     string_agg(substr(d3.text, CAST(st AS INT),
                       CAST(en - st AS INT)), '' ORDER BY st) AS ct
              FROM slices sl JOIN d d3 ON sl.doc_id = d3.doc_id
              GROUP BY sl.doc_id),
            agg AS (SELECT doc_id, count(*) AS n_spans,
                      CAST(sum(e - s) AS BIGINT) AS removed_chars
                    FROM spans GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(a.n_spans, 0) AS n_spans,
                   coalesce(a.removed_chars, 0) AS removed_chars,
                   CAST(length(coalesce(c.ct, d.text)) AS BIGINT)
                     AS n_chars_clean,
                   md5(coalesce(c.ct, d.text)) AS clean_md5
            FROM d LEFT JOIN agg a USING (doc_id)
                   LEFT JOIN clean c USING (doc_id)
            ORDER BY d.doc_id"""))

  // Soft dedup (count-preserving): keep only each cluster's canonical but
  // carry the duplicate multiplicity as a training weight, capped (the
  // up-weighting recipe — duplicates inform sampling probability instead
  // of being silently discarded; the cap bounds boilerplate explosions).
  // One extra map-side-combinable count over the verdicts.
  private val dedupSoft = Q(
    "dedup_soft",
    (s, dir) => {
      val verdicts = clusterVerdicts(s, dir)
      val sizes = verdicts.groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"))
      verdicts.filter(col("keep"))
        .join(sizes, Seq("canonical_id"))
        .select(col("doc_id"), col("cluster_size"),
          least(col("cluster_size"), lit(4L)).as("weight"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $minhashCtesSql,
             fp AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.1),
             edges AS (SELECT id1 AS src, id2 AS dst FROM fp
                       UNION SELECT id2, id1 FROM fp),
             nodes AS (SELECT DISTINCT doc_id AS node FROM documents),
             reach AS (
               SELECT node AS src, node AS dst FROM nodes
               UNION
               SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             verd AS (SELECT src AS doc_id, min(dst) AS canonical_id
                      FROM reach GROUP BY src),
             sizes AS (SELECT canonical_id, count(1) AS cluster_size
                       FROM verd GROUP BY canonical_id)
             SELECT v.doc_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
                    CAST(least(s.cluster_size, 4) AS BIGINT) AS weight
             FROM verd v JOIN sizes s USING (canonical_id)
             WHERE v.doc_id = v.canonical_id
             ORDER BY v.doc_id"""))

  // Incremental (delta-vs-index) dedup: the doc_id % 11 = 0 slice plays a
  // fresh ingest batch checked against the rest of the corpus (the
  // accumulated index). Same signature scheme as dedup_minhash_lsh, so the
  // oracle reuses the shared replay fragment — candidates are strictly
  // delta × base (never base × base, the whole point at 100 TB).
  private val dedupIncremental = Q(
    "dedup_incremental",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 11 === 0)
      val base = docs.filter(col("doc_id") % 11 =!= 0)
      Dedup.incrementalNearDup(base, delta, "doc_id", "text",
          shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.1,
          hasher = ShingleHash.Md5Portable)
        .withColumn("best_est", round(col("best_est"), 4))
        .orderBy(col("doc_id"))
    },
    Some(incrementalOracleSql))

  // Persisted-index variant of the same delta-vs-base verdicts: the base
  // side's signatures + capped bucket table come back from parquet
  // (pipeline/IndexStore, one versioned pointer — built once per
  // (session, corpus) here, once per ingest cadence in production) and
  // the delta probes them with ZERO base-corpus access. BIGINT
  // signatures round-trip parquet exactly, so the verdicts are
  // bit-identical and the oracle is dedup_incremental's own replay.
  private def cachedMinhashStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.SessionMemo(s, "dedup.minhash_store", dir) {
      val p = graft.SessionMemo.tempPath(s, "mhidx")
      val docs = Tables.load(s, dir, "documents")
      graft.pipeline.IndexStore.saveMinhash(
        docs.filter(col("doc_id") % 11 =!= 0), "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, maxBucketSize = 1000,
        livePath = p, hasher = ShingleHash.Md5Portable)
      p
    }

  private val dedupIndexPersisted = Q(
    "dedup_index_persisted",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 11 === 0)
      graft.pipeline.IndexStore.queryMinhash(s, cachedMinhashStore(s, dir),
          delta, "doc_id", "text", shingleN = 2, k = 64, bands = 16,
          minEstJaccard = 0.1, hasher = ShingleHash.Md5Portable)
        .withColumn("best_est", round(col("best_est"), 4))
        .orderBy(col("doc_id"))
    },
    Some(incrementalOracleSql))

  // The persisted MinHash index GROWN BY INGEST (IndexStore.appendMinhash
  // — the lifecycle step dedup_index_persisted's frozen base leaves
  // open): base = doc_id % 3 == 0 builds the index, the % 3 == 1 batch
  // APPENDS into it (delta pays only its own shingle+minhash; buckets
  // re-band from the stored signatures, so the capped-bucket rule
  // re-applies over the TRUE merged membership), and the % 3 == 2 batch's
  // verdicts probe the grown index — near-dups of APPENDED docs now
  // flag, which the frozen base would miss. The oracle replays the
  // whole chain as one fresh build over base ∪ appended (append ≡
  // rebuild is the operator's invariant, pinned bit-exact in
  // IndexStoreSpec).
  private def cachedAppendedMinhashStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.SessionMemo(s, "dedup.minhash_append_store", dir) {
      val p = graft.SessionMemo.tempPath(s, "mhapp")
      val docs = Tables.load(s, dir, "documents")
      graft.pipeline.IndexStore.saveMinhash(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, maxBucketSize = 1000,
        livePath = p, hasher = ShingleHash.Md5Portable)
      graft.pipeline.IndexStore.appendMinhash(
        docs.filter(col("doc_id") % 3 === 1), "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, maxBucketSize = 1000,
        livePath = p, hasher = ShingleHash.Md5Portable)
      p
    }

  private val indexAppendOracleSql = s"""WITH $minhashCtesSql,
             cand AS (
               SELECT DISTINCT x.doc_id AS did, y.doc_id AS bid
               FROM banded x JOIN banded y ON x.t = y.t AND x.key = y.key
               WHERE x.doc_id % 3 = 2 AND y.doc_id % 3 <> 2),
             e AS (
               SELECT c.did, c.bid,
                      round(list_sum(list_transform(generate_series(1, 64),
                        i -> CASE WHEN s1.sig[i] = s2.sig[i]
                             THEN 1 ELSE 0 END)) / 64.0, 4) AS est
               FROM cand c
               JOIN sigs s1 ON c.did = s1.doc_id
               JOIN sigs s2 ON c.bid = s2.doc_id),
             hits AS (
               SELECT did, bid, est,
                      count(1) OVER (PARTITION BY did) AS n_matches,
                      row_number() OVER (PARTITION BY did
                        ORDER BY est DESC, bid) AS rn
               FROM e WHERE est >= 0.1)
             SELECT d.doc_id,
                    COALESCE(v.n_matches, 0) AS n_matches,
                    v.bid AS best_match_id,
                    v.est AS best_est,
                    COALESCE(v.n_matches, 0) > 0 AS is_dup
             FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 2) d
             LEFT JOIN (SELECT * FROM hits WHERE rn = 1) v
               ON d.doc_id = v.did
             ORDER BY d.doc_id"""

  private val dedupIndexAppend = Q(
    "dedup_index_append",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 3 === 2)
      graft.pipeline.IndexStore.queryMinhash(s,
          cachedAppendedMinhashStore(s, dir),
          delta, "doc_id", "text", shingleN = 2, k = 64, bands = 16,
          minEstJaccard = 0.1, hasher = ShingleHash.Md5Portable)
        .withColumn("best_est", round(col("best_est"), 4))
        .orderBy(col("doc_id"))
    },
    Some(indexAppendOracleSql))

  // Incremental ExactSubstr against the persisted window-hash index
  // (r14 VERDICT Next-round #4): MinHash and IVF already had
  // build→append lifecycles; substring dedup re-hashed the whole corpus
  // every run. Here the %11==0 slice plays the ingest batch: the base
  // index persists per-hash (capped count, sole-carrier id) plus the
  // per-doc reports, the append pays the BATCH's window sweep plus a
  // re-scan of only the AFFECTED base docs (sole carriers of a hash the
  // batch duplicated — their spans grow), and the served report table
  // is bit-identical to the one-shot over the union, so this row shares
  // dedup_substring_remove's oracle verbatim. IndexStoreSpec pins
  // append ≡ rebuild and the affected-doc recompute.
  private def cachedSubstrStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.SessionMemo(s, "dedup.substr_store", dir) {
      val p = graft.SessionMemo.tempPath(s, "substr")
      val docs = Tables.load(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 11 =!= 0)
      graft.pipeline.IndexStore.saveSubstr(base, "doc_id", "text",
        minLen = 40, livePath = p, hasher = Dedup.portableHash)
      graft.pipeline.IndexStore.appendSubstr(base,
        docs.filter(col("doc_id") % 11 === 0), "doc_id", "text",
        minLen = 40, livePath = p, hasher = Dedup.portableHash)
      p
    }

  private val dedupSubstringIncremental = Q(
    "dedup_substring_incremental",
    (s, dir) => graft.pipeline.IndexStore.loadSubstrReports(
      s, cachedSubstrStore(s, dir)).orderBy(col("doc_id")),
    dedupSubstringRemove.oracle)

  // Streaming maintenance of the persisted MinHash index —
  // dedup_index_append's streaming twin (IndexStream.maintainMinhash):
  // the %3==1 admissions arrive as TWO micro-batches that each grow the
  // signature table and re-band the buckets under the exactly-once
  // marker. Signatures union as a set and buckets re-derive from full
  // membership, so arrival order is irrelevant and the fold shares
  // dedup_index_append's oracle; IndexStreamSpec pins MemoryStream ≡
  // batch fold ≡ one-shot append.
  private def cachedStreamedMinhashStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.SessionMemo(s, "dedup.minhash_stream_store", dir) {
      val p = graft.SessionMemo.tempPath(s, "mhstream")
      val docs = Tables.load(s, dir, "documents")
      graft.pipeline.IndexStore.saveMinhash(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, maxBucketSize = 1000,
        livePath = p, hasher = ShingleHash.Md5Portable)
      // %3==1 ids are ≡ 1 or 4 (mod 6) — two exact batches (integer
      // arithmetic; col/3 would be DOUBLE division and silently drop rows)
      Seq(1, 4).zipWithIndex.foreach { case (m, b) =>
        graft.pipeline.IndexStore.appendMinhash(
          docs.filter(col("doc_id") % 6 === m),
          "doc_id", "text", shingleN = 2, k = 64, bands = 16,
          maxBucketSize = 1000, livePath = p,
          hasher = ShingleHash.Md5Portable, marker = Some(b.toLong))
      }
      p
    }

  private val streamMinhashMaintain = Q(
    "stream_minhash_maintain",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 3 === 2)
      graft.pipeline.IndexStore.queryMinhash(s,
          cachedStreamedMinhashStore(s, dir),
          delta, "doc_id", "text", shingleN = 2, k = 64, bands = 16,
          minEstJaccard = 0.1, hasher = ShingleHash.Md5Portable)
        .withColumn("best_est", round(col("best_est"), 4))
        .orderBy(col("doc_id"))
    },
    Some(indexAppendOracleSql))

  private lazy val incrementalOracleSql =
    s"""WITH $minhashCtesSql,
             cand AS (
               SELECT DISTINCT x.doc_id AS did, y.doc_id AS bid
               FROM banded x JOIN banded y ON x.t = y.t AND x.key = y.key
               WHERE x.doc_id % 11 = 0 AND y.doc_id % 11 <> 0),
             e AS (
               SELECT c.did, c.bid,
                      round(list_sum(list_transform(generate_series(1, 64),
                        i -> CASE WHEN s1.sig[i] = s2.sig[i]
                             THEN 1 ELSE 0 END)) / 64.0, 4) AS est
               FROM cand c
               JOIN sigs s1 ON c.did = s1.doc_id
               JOIN sigs s2 ON c.bid = s2.doc_id),
             hits AS (
               SELECT did, bid, est,
                      count(1) OVER (PARTITION BY did) AS n_matches,
                      row_number() OVER (PARTITION BY did
                        ORDER BY est DESC, bid) AS rn
               FROM e WHERE est >= 0.1)
             SELECT d.doc_id,
                    COALESCE(v.n_matches, 0) AS n_matches,
                    v.bid AS best_match_id,
                    v.est AS best_est,
                    COALESCE(v.n_matches, 0) > 0 AS is_dup
             FROM (SELECT doc_id FROM documents WHERE doc_id % 11 = 0) d
             LEFT JOIN (SELECT * FROM hits WHERE rn = 1) v
               ON d.doc_id = v.did
             ORDER BY d.doc_id"""

  // EXACT all-pairs near-dup join via prefix filtering (no LSH false
  // negatives): 3-gram shingle sets, global rarest-first token order,
  // per-set prefix index, exact Jaccard verification. The oracle is the
  // BRUTE-FORCE all-pairs join — value equality therefore proves the
  // no-false-negative guarantee on this corpus, not just agreement on
  // the candidate subset.
  //
  // Shingles enter the join as 60-bit portable hashes (the containment-
  // sketch scheme, identical md5 chain on both engines): the r10 100×
  // probe showed the verify attach shuffling ~60 B shingle STRINGS per
  // array element was the dominant linear cost — 8 B longs cut the
  // dimension and pair-attach bytes ~7× and make the in-row intersect a
  // primitive comparison. Jaccard over hashed distinct sets equals
  // Jaccard over the string sets unless two distinct shingles collide in
  // 60 bits (~1e-10 per corpus pair here — and the brute-force oracle
  // hashes identically, so even a collision stays value-equal).
  private val dedupPrefixJoin = Q(
    "dedup_prefix_join",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.prefixFilterPairs(docs, "doc_id",
          Dedup.portableShingleHashes(Dedup.shingles(col("text"), 3)),
          t = 0.2)
        .withColumn("jac", round(col("jac"), 4))
        .orderBy(col("id1"), col("id2"))
    },
    Some("""WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(list_transform(
                       range(1, greatest(len(string_split_regex(lower(text), '\s+')) - 1, 1)),
                       i -> list_aggregate(
                              string_split_regex(lower(text), '\s+')[i:i+2],
                              'string_agg', ' ')),
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS g
              FROM documents),
            p AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2,
                     CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jac
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(a.g) > 0 AND len(b.g) > 0)
            SELECT id1, id2, round(jac, 4) AS jac
            FROM p WHERE jac >= 0.2
            ORDER BY id1, id2"""))

  // Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort by a
  // 16-char normalized-prefix key, compare only rank-adjacent rows (window
  // 8), verify with exact 2-gram Jaccard >= 0.2. Candidate count is
  // (window-1)·n by construction — the skew-free complement to the LSH
  // family. Rank comes from the two-phase Numbering (no single-partition
  // window); the window predicate is an equi join on rank after a
  // constant fan-out, never a range join.
  private val dedupSortedNeighborhood = Q(
    "dedup_sorted_neighborhood",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.sortedNeighborhood(docs, "doc_id", "text",
          keyLen = 16, window = 8, n = 2, threshold = 0.2)
        .orderBy(col("id1"), col("id2"), col("jac"))
    },
    Some("""WITH d AS (
              SELECT doc_id, text,
                     substr(lower(trim(text)), 1, 16) AS k,
                     list_distinct(list_transform(
                       range(1, greatest(len(string_split_regex(lower(text), '\s+')), 1)),
                       i -> list_aggregate(
                              string_split_regex(lower(text), '\s+')[i:i+1],
                              'string_agg', ' '))) AS g
              FROM documents
              WHERE len(string_split_regex(lower(text), '\s+')) >= 2),
            r AS (
              SELECT doc_id, g, row_number() OVER (ORDER BY k, doc_id) AS rn
              FROM d),
            p AS (
              SELECT a.doc_id AS ida, b.doc_id AS idb,
                     round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))),
                       4) AS jac
              FROM r a JOIN r b
                ON b.rn > a.rn AND b.rn <= a.rn + 7)
            SELECT least(ida, idb) AS id1, greatest(ida, idb) AS id2, jac
            FROM p WHERE jac >= 0.2
            ORDER BY id1, id2, jac"""))

  // Content-defined chunking dedup (Manber '94): sub-document shared-span
  // measurement. Cuts are the stateless k-gram-hash rule under the O(1)
  // ROLLING polynomial kernel (Dedup.cdcBoundariesRolling — one codegen
  // call per row instead of one md5 per POSITION, the round-7 bench's
  // costliest query). The oracle replays the SAME hash as the NAIVE
  // per-position polynomial sum_j cp[i+j]·B^(k-1-j) mod 2^31-1 — a
  // cross-engine proof that the rolling update drifts nowhere. k=12,
  // divisor=64 => ~64-char expected chunks against the corpus's
  // few-hundred-char documents. The md5 form stays available as
  // Dedup.cdcBoundaries (portable oracle mode).
  private val dedupCdc = Q(
    "dedup_cdc",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.cdcDedup(docs, "doc_id", "text", k = 12, divisor = 64,
          rolling = true)
        .orderBy(col("doc_id"))
    },
    Some {
      // B^(k-1-j) mod M for j = 0..k-1, embedded as a DuckDB list literal
      val k = 12
      val powers = (0 until k).map { j =>
        var p = 1L
        var e = k - 1 - j
        while (e > 0) { p = p * Dedup.CdcB % Dedup.CdcM; e -= 1 }
        p
      }.mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, text, len(text) AS L
                       FROM documents WHERE len(text) >= 1),
            b AS (SELECT doc_id, text,
                    list_sort(list_distinct(
                      [0] ||
                      list_filter(list_transform(
                        range(1, greatest(L - 11, 0) + 1),
                        i -> CASE WHEN list_sum(list_transform(range(0, 12),
                               j -> CAST(unicode(substring(text, i + j, 1))
                                         AS BIGINT) * ($powers)[j + 1]))
                               % ${Dedup.CdcM} % 64 = 0
                             THEN i + 11 END), x -> x IS NOT NULL) ||
                      [L])) AS bs
                  FROM d),
            inst AS (SELECT doc_id,
                            md5(c) AS key, len(c) AS clen
                     FROM (SELECT doc_id,
                             unnest(list_transform(range(1, len(bs)),
                               j -> substr(text, bs[j] + 1, bs[j+1] - bs[j])))
                               AS c
                           FROM b)),
            ks AS (SELECT key, count(DISTINCT doc_id) AS n_docs
                   FROM inst GROUP BY key)
            SELECT i.doc_id,
                   count(1) AS n_chunks,
                   CAST(sum(CASE WHEN ks.n_docs >= 2 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_shared_chunks,
                   CAST(sum(CASE WHEN ks.n_docs >= 2 THEN i.clen ELSE 0 END)
                     AS BIGINT) AS shared_bytes,
                   CAST(sum(i.clen) AS BIGINT) AS total_bytes,
                   round(CAST(sum(CASE WHEN ks.n_docs >= 2 THEN i.clen
                                       ELSE 0 END) AS DOUBLE)
                     / CAST(sum(i.clen) AS DOUBLE), 4) AS share_ratio
            FROM inst i JOIN ks ON i.key = ks.key
            GROUP BY i.doc_id ORDER BY i.doc_id"""
    })

  // Shared with CurationQueries' corpus_dedup_curve: the session pair
  // materialization and its oracle replay fragment.
  private[queries] def minhashPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String) = minhashPairs(s, dir)
  private[queries] def minhashOracleCtes: String = minhashCtesSql

  // MinHash estimator-error report: for every LSH candidate pair, the
  // 64-hash signature estimate next to the TRUE shingle Jaccard — the
  // index-tuning artifact that says whether k=64 is enough for the
  // corpus's similarity regime (the sim_recall_report posture applied to
  // dedup). Reuses the session pair materialization; the exact side joins
  // the bounded candidate set (never all pairs) against the per-doc
  // shingle dimension, so at 100 TB the exact-Jaccard verify costs
  // |candidates|, not |corpus|².
  private val dedupMinhashEstError = Q(
    "dedup_minhash_est_error",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = minhashPairs(s, dir)
        .select(col("id1"), col("id2"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
      val grams = docs.select(col("doc_id"),
        Dedup.shingles(col("text"), 2).as("g"))
      pairs
        .join(grams.select(col("doc_id").as("id1"), col("g").as("__g1")),
          Seq("id1"))
        .join(grams.select(col("doc_id").as("id2"), col("g").as("__g2")),
          Seq("id2"))
        .withColumn("exact_jaccard",
          round(Dedup.jaccard(col("__g1"), col("__g2")), 4))
        .select(col("id1"), col("id2"), col("est_jaccard"),
          col("exact_jaccard"),
          // abs of the ROUNDED values: both are 1e-4 grid points, so the
          // difference is exact and engine-independent
          round(abs(col("est_jaccard") - col("exact_jaccard")), 4)
            .as("abs_err"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""WITH $minhashCtesSql,
            ex AS (
              SELECT p.id1, p.id2, p.est_jaccard,
                     round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                           / len(list_distinct(a.g || b.g)), 4) AS exact_jaccard
              FROM est p
              JOIN grams a ON a.doc_id = p.id1
              JOIN grams b ON b.doc_id = p.id2
              WHERE p.est_jaccard >= 0.1)
            SELECT id1, id2, est_jaccard, exact_jaccard,
                   round(abs(est_jaccard - exact_jaccard), 4) AS abs_err
            FROM ex ORDER BY id1, id2"""))

  // The full ingest gate, end to end (r11 VERDICT #7): an ingest batch
  // (doc_id % 11 = 0, the established delta slice) runs
  //   (1) exact first-seen dedup by content key (StreamDedup — the
  //       stream operator's batch form; doc_id is the arrival order),
  //   (2) the MinHash near-dup gate against the PERSISTED base index
  //       (IndexStore.queryMinhash — zero base-corpus access),
  //   (3) IVF append of the admitted docs' embeddings onto the frozen
  //       base-centroid index, then an ANN query proving every admitted
  //       vector is findable in the merged index.
  // One row per (admitted embedded doc, rank): the stage-1 duplicate
  // pressure rides along as n_dups. The oracle replays the whole chain —
  // content-hash argmin, the shared MinHash replay fragment, and the
  // frozen-centroid IVF probe — as one composed query (the pipeline_e2e
  // discipline). Docs without an embedding admit through the text gates
  // but drop at the vector join on both sides identically.
  private val ingestE2e = Q(
    "ingest_e2e",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val delta = docs.filter(col("doc_id") % 11 === 0)
      val fs = graft.streaming.StreamDedup.firstSeenByContent(
        delta.withColumn("arrival", col("doc_id")),
        Seq(col("text")), "arrival", "doc_id")
      val surv = fs.select(col("first_id").as("doc_id"), col("n_dups"))
      val verdicts = graft.pipeline.IndexStore.queryMinhash(
        s, cachedMinhashStore(s, dir),
        delta.join(surv.select("doc_id"), Seq("doc_id")),
        "doc_id", "text", shingleN = 2, k = 64, bands = 16,
        minEstJaccard = 0.1, hasher = ShingleHash.Md5Portable)
      // pinned (r15 opt): admitted is consumed by BOTH sides of the IVF
      // append (delta AND query set) and by the final report join —
      // unpinned, the whole MinHash verdict chain re-executed per
      // consumer (~0.5 s each here)
      val admitted = graft.operators.Pinning.pin(
        verdicts.filter(!col("is_dup")).select(col("doc_id"))
          .join(surv, Seq("doc_id")))
      val admVecs = emb
        .join(admitted.select(col("doc_id").as("vec_id")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val baseVecs = emb.filter(col("vec_id") % 11 =!= 0)
        .select(col("vec_id"), col("embedding"))
      // AutoNlist (default): the frozen cell structure sizes from the
      // BASE corpus — a fixed nlist made the 100× append probe 18k
      // queries × 12.5k-vector cells (201 s); constant ~64-vector cells
      // keep per-query candidate work flat as the corpus grows
      val ann = graft.pipeline.Similarity.ivfAppendTopK(
        baseVecs, admVecs, admVecs, "vec_id", "embedding",
        k = 3, nprobe = 4)
      admitted.join(ann, admitted("doc_id") === ann("query_id"))
        .select(col("doc_id"), col("n_dups"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some(s"""WITH $minhashCtesSql,
            delta AS (SELECT doc_id, text FROM documents
                      WHERE doc_id % 11 = 0),
            fs AS (
              SELECT md5(md5(coalesce(CAST(text AS VARCHAR), ''))) AS ck,
                     min(doc_id) AS doc_id, count(1) AS n_dups
              FROM delta GROUP BY ck),
            cand AS (
              SELECT DISTINCT x.doc_id AS did, y.doc_id AS bid
              FROM banded x JOIN banded y ON x.t = y.t AND x.key = y.key
              WHERE x.doc_id IN (SELECT doc_id FROM fs)
                AND y.doc_id % 11 <> 0),
            ge AS (
              SELECT c.did,
                     list_sum(list_transform(generate_series(1, 64),
                       i -> CASE WHEN s1.sig[i] = s2.sig[i]
                            THEN 1 ELSE 0 END)) / 64.0 AS est
              FROM cand c
              JOIN sigs s1 ON c.did = s1.doc_id
              JOIN sigs s2 ON c.bid = s2.doc_id),
            adm AS (
              SELECT f.doc_id, f.n_dups FROM fs f
              WHERE NOT EXISTS (SELECT 1 FROM ge
                                WHERE ge.did = f.doc_id AND ge.est >= 0.1)),
            basev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings WHERE vec_id % 11 <> 0),
            admv AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
                     FROM embeddings e JOIN adm a ON e.vec_id = a.doc_id),
            corpus AS (SELECT * FROM basev UNION ALL SELECT * FROM admv),
            cent AS (
              SELECT list_id, cvec FROM (
                SELECT row_number() OVER (ORDER BY vec_id) AS list_id,
                       greatest(32, count(*) OVER () // 64) AS nl,
                       v AS cvec
                FROM basev) t
              WHERE list_id <= nl),
            norm AS MATERIALIZED (
              SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n
              FROM corpus),
            assign_all AS (
              SELECT nm.vec_id, nm.v, nm.n, c.list_id,
                     list_dot_product(nm.v, c.cvec)
                       / (nm.n * sqrt(list_dot_product(c.cvec, c.cvec))) AS cd
              FROM norm nm, cent c),
            corpus_assigned AS (
              SELECT vec_id AS neighbor_id, v AS cv, n AS cn, list_id FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY cd DESC, list_id) AS r
                FROM assign_all) t WHERE r = 1),
            probes AS (
              SELECT vec_id AS query_id, v AS qv, n AS qn, list_id FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY cd DESC, list_id) AS r
                FROM assign_all
                WHERE vec_id IN (SELECT vec_id FROM admv)) t WHERE r <= 4),
            scored AS (
              SELECT p.query_id, a.neighbor_id,
                     list_dot_product(p.qv, a.cv) / (p.qn * a.cn) AS cos
              FROM probes p JOIN corpus_assigned a USING (list_id)
              WHERE p.query_id <> a.neighbor_id),
            ranked AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
            SELECT a.doc_id, a.n_dups, r.neighbor_id,
                   round(r.cos, 4) AS cos, CAST(r.rank AS BIGINT) AS rank
            FROM adm a JOIN ranked r ON a.doc_id = r.query_id
            WHERE r.rank <= 3
            ORDER BY a.doc_id, r.rank"""))

  val qs: Seq[Q] = Seq(dedupExact, dedupJaccard, dedupMinhash, dedupSimhash,
    dedupCluster, dedupSubstring, dedupSubstringRemove,
    dedupSubstringWinnow, dedupSubstringIncremental, dedupSoft,
    dedupIncremental,
    dedupIndexPersisted, dedupIndexAppend, streamMinhashMaintain,
    ingestE2e,
    dedupPrefixJoin, dedupSortedNeighborhood, dedupCdc, dedupContainment,
    dedupContainmentSketch, dedupCanonicalQuality, dedupMinhashEstError)
}
