package graft.queries

import graft.Tables
import graft.pipeline.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Text-analysis operator family over `documents`: token counting, quality
  * scoring, language ID, fingerprinting (builder-prompt pipeline surface).
  */
object TextQueries extends QueryModule {

  // Token + char counting (whitespace tokenizer) with a DuckDB oracle.
  private val textTokens = Q(
    "text_tokens",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, length(text) AS n_chars,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens
            FROM documents ORDER BY doc_id"""))

  // Quality scoring: punctuation / stopword / shape features + a composite
  // keep/drop signal (the C4/Gopher-style filter shape).
  private val stopwords = TextAnalysis.DefaultStopwords

  private val textQuality = Q(
    "text_quality",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          TextAnalysis.qualityFeatures(col("text"), stopwords).as("f"))
        .select(col("doc_id"),
          col("f.n_tokens").cast("long").as("n_tokens"),
          round(col("f.mean_word_len"), 4).as("mean_word_len"),
          round(col("f.stopword_ratio"), 4).as("stopword_ratio"),
          (col("f.n_tokens") >= 10 && col("f.mean_word_len") < 12.0).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
              SELECT doc_id,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks,
                     CAST(length(text) AS DOUBLE) AS chars,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       w -> w IN ('the','a','an','and','or','of','to','in')))
                       AS DOUBLE) AS stops
              FROM documents)
            SELECT doc_id, CAST(toks AS BIGINT) AS n_tokens,
                   round(CASE WHEN toks > 0 THEN chars / toks ELSE 0.0 END, 4)
                     AS mean_word_len,
                   round(CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END, 4)
                     AS stopword_ratio,
                   toks >= 10 AND (CASE WHEN toks > 0 THEN chars / toks ELSE 0.0 END) < 12.0
                     AS keep
            FROM t ORDER BY doc_id"""))

  // Language ID by marker-word voting, crosstabbed against the labeled
  // `lang` column (the heuristic's confusion view). Deterministic rule →
  // SQL-replicable oracle.
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "de"),
    "fr" -> Seq("le", "les", "des"),
    "zh" -> Seq("shi", "de", "le"))

  private val textLangId = Q(
    "text_lang_id",
    (s, dir) => {
      // columnar form: per-doc marker counts in ONE pass over the word
      // array — no explode (50× row blow-up), no join-back, one shuffle
      // (the final confusion crosstab). Measured 4× faster than the
      // explode + broadcast-marker-join form at this vocabulary size;
      // languageIdByJoin remains the right shape once the marker
      // dimension grows past what a per-row isin chain can carry
      // (real n-gram models: 10^3-10^5 entries per language).
      val docs = Tables.load(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.languageId(col("text"), markers).as("predicted"))
      docs.groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },
    Some("""WITH w AS (
              SELECT doc_id, lang,
                     string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
            scored AS (
              SELECT doc_id, lang,
                     len(list_filter(ws, x -> x IN ('der','und','die'))) AS h_de,
                     len(list_filter(ws, x -> x IN ('the','and','of'))) AS h_en,
                     len(list_filter(ws, x -> x IN ('el','los','de'))) AS h_es,
                     len(list_filter(ws, x -> x IN ('le','les','des'))) AS h_fr,
                     len(list_filter(ws, x -> x IN ('shi','de','le'))) AS h_zh
              FROM w),
            pred AS (
              SELECT doc_id, lang,
                     (SELECT l FROM (VALUES ('de', h_de), ('en', h_en),
                                            ('es', h_es), ('fr', h_fr),
                                            ('zh', h_zh)) AS v(l, h)
                      ORDER BY h DESC, l ASC LIMIT 1) AS predicted
              FROM scored)
            SELECT lang, predicted, count(1) AS n FROM pred
            GROUP BY lang, predicted ORDER BY lang, predicted"""))

  // Intra-document repetition ratio — the standard LLM-corpus quality
  // heuristic (fraction of duplicate word bigrams inside the document;
  // boilerplate and template spam score high). 1 - distinct/total bigrams.
  private val textRepetition = Q(
    "text_repetition",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val words = Dedup.words(col("text")) // same tokenizer as the shingles
      val grams = Dedup.shingles(col("text"), 2)
      docs.select(col("doc_id"),
          (size(words) - 1).cast("long").as("total_bigrams"),
          size(grams).cast("long").as("distinct_bigrams"))
        .withColumn("repetition_ratio",
          when(col("total_bigrams") > 0,
            round(lit(1.0) - col("distinct_bigrams") / col("total_bigrams").cast("double"), 4))
            .otherwise(lit(0.0)))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
              SELECT doc_id,
                     len(string_split_regex(lower(text), '\s+')) - 1 AS total_bigrams,
                     len(list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(lower(text), '\s+')) - 1),
                       i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                            string_split_regex(lower(text), '\s+')[i+1]))) AS distinct_bigrams
              FROM documents)
            SELECT doc_id,
                   CAST(total_bigrams AS BIGINT) AS total_bigrams,
                   CAST(distinct_bigrams AS BIGINT) AS distinct_bigrams,
                   CASE WHEN total_bigrams > 0
                        THEN round(1.0 - distinct_bigrams / CAST(total_bigrams AS DOUBLE), 4)
                        ELSE 0.0 END AS repetition_ratio
            FROM t ORDER BY doc_id"""))

  // Document fingerprint (rolling polynomial hash). The oracle replays the
  // same arithmetic: sum(ascii_i * 131^i) mod 1e9+7 over the first 64
  // chars, with the power sequence from a recursive CTE — every term stays
  // below 2^53 so BIGINT arithmetic is exact on both sides.
  private val textFingerprint = Q(
    "text_fingerprint",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE pw(i, f) AS (
              SELECT 0, CAST(1 AS BIGINT)
              UNION ALL SELECT i+1, (f*131) % 1000000007 FROM pw WHERE i < 63
            ), d AS (SELECT doc_id, substr(text, 1, 64) AS t FROM documents)
            SELECT d.doc_id,
                   CAST(COALESCE(SUM((unicode(substr(d.t, CAST(pw.i+1 AS INT), 1)) * pw.f)
                                     % 1000000007) % 1000000007, 0) AS BIGINT) AS fp
            FROM d LEFT JOIN pw ON pw.i < length(d.t)
            GROUP BY d.doc_id ORDER BY d.doc_id"""))

  // Character-bigram entropy — the standard gibberish/boilerplate signal
  // next to the repetition ratio: low entropy = repeated padding, high =
  // random noise. Distributed form: explode bigrams → two hash
  // aggregations (count per (doc, bigram), then Σ c·flog2(c) per doc) —
  // both map-side combinable, no per-row maps that would blow up on long
  // docs. EMITTED IN INTEGER FLOOR-LOG2 BITS (the text_unigram_surprisal
  // kernel; r11 whitelist class C4 retired): with flog2(x) = bits(x)−1
  // over exact integer counts, n·H snaps to h_bits_total =
  // n·flog2(n) − Σ c·flog2(c) — a pure-integer quantity both engines
  // compute identically, preserving the signal's ordering (repeated
  // padding → 0, diverse text → large). entropy_bits = h_bits_total/n is
  // one exact-integer division (C2), the per-bigram form.
  private val textEntropy = Q(
    "text_ngram_entropy",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .filter(length(col("text")) >= 2)
      val bigrams = docs.select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, length(text) - 1)," +
            " i -> substring(lower(text), i, 2))")).as("bg"))
      bigrams.groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"),
          sum(col("c") * (length(bin(col("c"))) - 1).cast("long"))
            .as("cbits"))
        .select(col("doc_id"),
          col("n").cast("long").as("n_bigrams"),
          ((length(bin(col("n"))) - 1).cast("long") * col("n")
            - col("cbits")).cast("long").as("h_bits_total"),
          round(((length(bin(col("n"))) - 1).cast("long") * col("n")
            - col("cbits")).cast("double") / col("n"), 4)
            .as("entropy_bits"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH bg AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, length(text)),
                       i -> substr(lower(text), CAST(i AS INT), 2))) AS b
              FROM documents WHERE length(text) >= 2),
            cnt AS (SELECT doc_id, b, CAST(count(1) AS BIGINT) AS c
                    FROM bg GROUP BY 1, 2),
            agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                           CAST(sum(c * (length(printf('%b', c)) - 1))
                             AS BIGINT) AS cbits
                    FROM cnt GROUP BY 1)
            SELECT doc_id, n AS n_bigrams,
                   CAST((length(printf('%b', n)) - 1) * n - cbits
                     AS BIGINT) AS h_bits_total,
                   round(CAST((length(printf('%b', n)) - 1) * n - cbits
                     AS DOUBLE) / n, 4) AS entropy_bits
            FROM agg ORDER BY doc_id"""))

  // BPE-ish token counting (GPT-2 pre-tokenizer shape: contractions,
  // letter runs, digit runs, punctuation runs, whitespace runs) — the
  // per-doc token budget a training pipeline actually bills by. The
  // pattern is backtracking-free, so Java regex (Spark) and RE2 (DuckDB)
  // tokenize identically.
  private val bpePattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n]+|[ \\t\\n]+"

  private val textTokensBpe = Q(
    "text_tokens_bpe",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
            .cast("long").as("n_bpe_tokens"),
          length(col("text")).cast("long").as("n_chars"))
        .withColumn("chars_per_token",
          when(col("n_bpe_tokens") > 0,
            round(col("n_chars") / col("n_bpe_tokens").cast("double"), 4))
            .otherwise(lit(0.0)))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
                   len(regexp_extract_all(text,
                     '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+|[ \t\n]+'))
                     AS n_bpe_tokens,
                   length(text) AS n_chars,
                   CASE WHEN len(regexp_extract_all(text,
                     '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+|[ \t\n]+')) > 0
                     THEN round(length(text) / CAST(len(regexp_extract_all(text,
                       '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+|[ \t\n]+'))
                       AS DOUBLE), 4)
                     ELSE 0.0 END AS chars_per_token
            FROM documents ORDER BY doc_id"""))

  // Context-window chunking: overlapping 200-char windows every 150 chars
  // (50-char overlap), 1-based offsets — the RAG/pretraining prep step.
  // Narrow per-row explode; no shuffle.
  private val textChunk = Q(
    "text_chunk",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), 200, 150))
            .as(Seq("chunk_idx", "c")))
        .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          col("c.start").as("start"), col("c.chunk").as("chunk"),
          length(col("c.chunk")).cast("long").as("chunk_chars"))
        .orderBy(col("doc_id"), col("start"))
    },
    Some("""SELECT doc_id, CAST((s - 1) / 150 AS INT) AS chunk_idx,
                   CAST(s AS BIGINT) AS start,
                   substr(text, s, 200) AS chunk,
                   CAST(length(substr(text, s, 200)) AS BIGINT) AS chunk_chars
            FROM (SELECT doc_id, text,
                         unnest(range(1, greatest(length(text), 1) + 1, 150))
                           AS s
                  FROM documents)
            ORDER BY doc_id, start"""))

  // Model-based quality scoring: a linear classifier over the quality
  // features (the fineweb-edu / DCLM filter shape, with a stand-in weight
  // vector — real weights are a drop-in dimension). Score arithmetic is a
  // fixed left-assoc chain, so the oracle replays it bit-for-bit; per-doc
  // scores are quantized to basis points BEFORE the rollup so the SUM is
  // integer (order-independent) — never sum raw doubles across engines.
  private val textQualityModel = Q(
    "text_quality_model",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val f = TextAnalysis.qualityFeatures(col("text"), stopwords)
      val score = TextAnalysis.linearScore(0.29,
        2.0 -> col("f.stopword_ratio"),
        -0.08 -> col("f.mean_word_len"),
        -3.0 -> col("f.punct_ratio"),
        -2.0 -> col("f.upper_ratio"),
        0.5 -> (least(col("f.n_tokens"), lit(1000.0)) / lit(1000.0)))
      docs.select(col("source"), f.as("f"))
        .select(col("source"),
          round(score * 10000).cast("long").as("score_bp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("score_bp") >= 0, 1)).as("n_pass"),
          sum(col("score_bp")).as("sum_score_bp"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (
              SELECT source,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks,
                     CAST(length(text) AS DOUBLE) AS chars,
                     CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                          AS DOUBLE) AS punct,
                     CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
                          AS DOUBLE) AS uppers,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       w -> w IN ('the','a','an','and','or','of','to','in')))
                       AS DOUBLE) AS stops
              FROM documents),
            f AS (
              SELECT source,
                     CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END AS stopword_ratio,
                     CASE WHEN toks > 0 THEN chars / toks ELSE 0.0 END AS mean_word_len,
                     CASE WHEN chars > 0 THEN punct / chars ELSE 0.0 END AS punct_ratio,
                     CASE WHEN chars > 0 THEN uppers / chars ELSE 0.0 END AS upper_ratio,
                     toks
              FROM t),
            scored AS (
              SELECT source,
                     CAST(round((((((((0.29) + 2.0 * stopword_ratio)
                       + (-0.08) * mean_word_len)
                       + (-3.0) * punct_ratio)
                       + (-2.0) * upper_ratio)
                       + 0.5 * (least(toks, 1000.0) / 1000.0)) * 10000))
                       AS BIGINT) AS score_bp
              FROM f)
            SELECT source, count(1) AS n_docs,
                   count(CASE WHEN score_bp >= 0 THEN 1 END) AS n_pass,
                   CAST(sum(score_bp) AS BIGINT) AS sum_score_bp
            FROM scored GROUP BY source ORDER BY source"""))

  // Hashing-trick featurizer (fastText/VW input shape): 16-bucket token
  // hash counts per doc. Portable md5 bucket hash → the oracle replays the
  // exact vector; emitted as a joined string (plus nnz/l1 integrity
  // scalars) so the value hash is representation-stable.
  private val textHashFeatures = Q(
    "text_hash_features",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val fv = TextAnalysis.hashFeatures(col("text"), 16)
      docs.select(col("doc_id"), fv.as("f"))
        .select(col("doc_id"),
          size(filter(col("f"), x => x > 0)).cast("long").as("nnz"),
          aggregate(col("f"), lit(0L), (a, x) => a + x).as("l1"),
          array_join(transform(col("f"), x => x.cast("string")), ",")
            .as("fvec"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
            f AS (
              SELECT doc_id,
                     list_transform(range(0, 16), j ->
                       len(list_filter(ws, x ->
                         ('0x' || substr(md5(x), 1, 15))::BIGINT % 16 = j)))
                       AS fv
              FROM w)
            SELECT doc_id,
                   CAST(len(list_filter(fv, x -> x > 0)) AS BIGINT) AS nnz,
                   CAST(list_sum(fv) AS BIGINT) AS l1,
                   array_to_string(fv, ',') AS fvec
            FROM f ORDER BY doc_id"""))

  // The (doc, word, n) count dimension is a pure function of the corpus —
  // memoize it pinned per (session, dir) (the cachedWarehouse posture,
  // ownership: session-lifetime, dropped with the session) so repeated
  // surprisal scoring pays the tokenize+count shuffle once, not once per
  // execution (the r9 bench paid the per-call pin inside every timed pass).
  private[queries] def cachedDocWords(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.SessionMemo(s, "text.doc_words", dir)(
      graft.operators.Pinning.pin(TextAnalysis.docWordCountsPlan(
        Tables.load(s, dir, "documents"), "doc_id", "text")))

  // Corpus-derived unigram surprisal: integer log2 via binary-digit count
  // (bits(N) - bits(count_w) per token) — the rare-vocabulary filter
  // signal, exact on both engines (no float log crosses the oracle).
  private val textSurprisal = Q(
    "text_unigram_surprisal",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.unigramSurprisal(docs, "doc_id", "text",
          docWordCounts = Some(cachedDocWords(s, dir)))
        .orderBy(col("doc_id"))
    },
    Some("""WITH w AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\s+'))
                       AS word
              FROM documents),
            v AS (SELECT word, count(1) AS cnt FROM w GROUP BY word),
            n AS (SELECT length(bin(sum(cnt))) AS nbits FROM v)
            SELECT w.doc_id,
                   count(1) AS n_tokens,
                   CAST(sum(n.nbits - length(bin(v.cnt))) AS BIGINT)
                     AS surprisal_sum,
                   CAST(sum(n.nbits - length(bin(v.cnt))) * 10000
                        // count(1) AS BIGINT) AS mean_surprisal_bp
            FROM w JOIN v USING (word), n
            GROUP BY w.doc_id ORDER BY w.doc_id"""))

  // Bigram LM surprisal (the CCNet-style coherence filter): add-one
  // conditional model trained on the corpus itself, scored in exact
  // integer floor-log2 bits — bits(ctx+V) - bits(c+1) per bigram. The
  // oracle rebuilds the bigram stream with an unnest-of-list_transform
  // (no positional self-join there either), the two count dimensions,
  // the next-word vocabulary, and the same integer arithmetic.
  private val textBigramSurprisal = Q(
    "text_bigram_surprisal",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.bigramSurprisal(docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH ws AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS ws
              FROM documents),
            b AS (
              SELECT doc_id, z['p'] AS p, z['w'] AS w
              FROM ws, unnest(list_transform(range(1, len(ws)),
                i -> {'p': ws[i], 'w': ws[i + 1]})) t(z)),
            bg AS (SELECT p, w, count(1) AS c FROM b GROUP BY p, w),
            ctx AS (SELECT p, sum(c) AS ctx FROM bg GROUP BY p),
            v AS (SELECT count(DISTINCT w) AS v FROM bg)
            SELECT b.doc_id,
                   count(1) AS n_bigrams,
                   CAST(sum(length(bin(ctx.ctx + v.v))
                        - length(bin(bg.c + 1))) AS BIGINT)
                     AS surprisal_sum,
                   CAST(sum(length(bin(ctx.ctx + v.v))
                        - length(bin(bg.c + 1))) * 10000
                        // count(1) AS BIGINT) AS mean_surprisal_bp
            FROM b JOIN bg USING (p, w) JOIN ctx USING (p), v
            GROUP BY b.doc_id ORDER BY b.doc_id"""))

  // Vocabulary growth: distinct n-gram types vs total n-gram tokens for
  // n = 1..3 (type/token ratio in integer bp) — the Heaps-law corpus
  // observability view behind tokenizer/vocab sizing decisions. Each n is
  // one count-distinct aggregation; integer outputs only.
  private val textVocabGrowth = Q(
    "text_vocab_growth",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val rows = (1 to 3).map { n =>
        val totals = docs.select(
            greatest(size(Dedup.words(col("text"))) - (n - 1), lit(0))
              .cast("long").as("c"))
          .agg(sum(col("c")).as("n_grams"))
        val types = docs
          .select(explode(Dedup.shingles(col("text"), n)).as("g"))
          .agg(countDistinct(col("g")).as("n_types"))
        types.crossJoin(totals).select(lit(n).as("n"),
          col("n_types").cast("long").as("n_types"), col("n_grams"))
      }
      rows.reduce(_ union _)
        .select(col("n"), col("n_types"), col("n_grams"),
          expr("(n_types * 10000) div n_grams").as("ttr_bp"))
        .orderBy(col("n"))
    },
    Some("""WITH w AS (
              SELECT string_split_regex(lower(text), '\s+') AS ws
              FROM documents),
            grams AS (
              SELECT n.n AS n,
                     unnest(CASE WHEN len(ws) >= n.n
                       THEN list_transform(range(1, len(ws) - n.n + 2),
                              i -> array_to_string(ws[i : i + n.n - 1], ' '))
                       ELSE [] END) AS g
              FROM w, (VALUES (1), (2), (3)) n(n)),
            agg AS (
              SELECT n, count(DISTINCT g) AS n_types, count(1) AS n_grams
              FROM grams GROUP BY n)
            SELECT n, n_types, n_grams,
                   n_types * 10000 // n_grams AS ttr_bp
            FROM agg ORDER BY n"""))

  // Heaps-law growth curve: cumulative tokens vs cumulative distinct
  // tokens at 10 corpus prefixes (docs in id order) — "is more data
  // still adding vocabulary?" as one query. Prefix-distinct never
  // rescans: each token contributes at its first-occurrence doc, the
  // cumulative series are range-shuffle running sums, and bucket ends
  // read off with max() (both series nondecreasing). Oracle = the
  // first-seen aggregation + ordered window sums.
  private val textHeapsCurve = Q(
    "text_heaps_curve",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.vocabGrowth(docs, "doc_id", "text", buckets = 10)
        .orderBy(col("bucket"))
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
              FROM documents),
            pd AS (SELECT doc_id, len(w)::BIGINT AS nt FROM w),
            tk AS (SELECT doc_id, unnest(w) AS t FROM w),
            fs AS (SELECT t, min(doc_id) AS fd FROM tk GROUP BY t),
            nv AS (SELECT fd AS doc_id, count(1) AS nv FROM fs GROUP BY fd),
            pj AS (SELECT p.doc_id, p.nt, coalesce(v.nv, 0) AS nv
                   FROM pd p LEFT JOIN nv v USING (doc_id)),
            c AS (
              SELECT doc_id,
                     sum(nt) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS ct,
                     sum(nv) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cv,
                     row_number() OVER (ORDER BY doc_id) AS rn,
                     count(1) OVER () AS n
              FROM pj)
            SELECT (rn * 10 + n - 1) // n AS bucket,
                   CAST(max(rn) AS BIGINT) AS docs,
                   CAST(max(ct) AS BIGINT) AS cum_tokens,
                   CAST(max(cv) AS BIGINT) AS cum_vocab
            FROM c GROUP BY 1 ORDER BY bucket"""))

  // BM25 top-20 for a three-term query (k1=1.2, b=0.75, the Robertson/
  // Sparck-Jones +1 idf). The oracle restates the identical pipeline;
  // `1.2 + 1` is kept as an addition on both engines (the 2.2 literal
  // rounds to a different double than the sum).
  private val textBm25 = Q(
    "text_bm25",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      TextAnalysis.bm25TopK(docs, "doc_id", "text",
          Seq("spark", "vector", "join"), k = 20)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents),
            dl AS (SELECT doc_id, len(w)::DOUBLE AS dl, w FROM t),
            stats AS (SELECT count(*)::DOUBLE AS n,
                             CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                               / count(*) AS avgdl
                      FROM dl),
            hits AS (
              SELECT doc_id, dl, word, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, dl, unnest(w) AS word FROM dl)
              WHERE word IN ('spark', 'vector', 'join')
              GROUP BY 1, 2, 3),
            dfs AS (SELECT word, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
            scored AS (
              -- per-doc fold in sorted-term order, mirroring the engine
              SELECT doc_id, list_sum(list(s ORDER BY word)) AS score FROM (
                SELECT h.doc_id, h.word,
                       CAST(length(printf('%b', CAST(st.n AS BIGINT) * 2 + 2))
                            - length(printf('%b', CAST(d.df AS BIGINT) * 2 + 1))
                            AS DOUBLE)
                         * h.tf * (1.2 + 1)
                         / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.dl / st.avgdl))
                         AS s
                FROM hits h JOIN dfs d USING (word), stats st)
              GROUP BY 1)
            SELECT doc_id, round(score, 4) AS score FROM (
              SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
            ORDER BY doc_id"""))

  // PII scrubbing (the pre-release redaction stage): the synthetic corpus
  // carries no PII, so the query INJECTS deterministic email/IP/SSN
  // shapes per doc (the text_normalize accent-injection precedent), then
  // counts and redacts them. Patterns are Java-regex/RE2 compatible by
  // construction (TextAnalysis.piiPatterns), so the oracle replays count
  // and replacement exactly. Narrow projection — no shuffle.
  private val textPiiScrub = Q(
    "text_pii_scrub",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .withColumn("t", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 ssn 123-45-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      TextAnalysis.piiScrub(docs, "doc_id", "t")
        .withColumn("scrub_md5", md5(col("scrubbed"))).drop("scrubbed")
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com from 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR)
                          || '.7 ssn 123-45-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t,
                     '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(t,
                     '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
                   md5(regexp_replace(regexp_replace(regexp_replace(t,
                     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                     '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                     '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g')) AS scrub_md5
            FROM d ORDER BY doc_id"""))

  // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-20
  // and the brute-force ANN top-20 (query vector 0) into one fused
  // top-10 — the standard lexical+semantic merge (Cormack et al. 2009),
  // rank-based so no score calibration crosses the two systems. Both
  // input rankings and the 1/(60+rank) fused sum replay exactly in the
  // oracle (sorted-source fold, row_number ranks, same tie rules).
  private val searchHybridRrf = Q(
    "search_hybrid_rrf",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lex = TextAnalysis.rankByScore(
        TextAnalysis.bm25TopK(docs, "doc_id", "text",
          Seq("spark", "vector", "join"), k = 20),
        "doc_id", "score", k = 20)
      val ann = graft.pipeline.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      TextAnalysis.rrfFuse(Seq("ann" -> ann, "bm25" -> lex), "doc_id", k = 10)
        .withColumn("rrf", round(col("rrf"), 6))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents),
            dl AS (SELECT doc_id, len(w)::DOUBLE AS dl, w FROM t),
            stats AS (SELECT count(*)::DOUBLE AS n,
                             CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                               / count(*) AS avgdl
                      FROM dl),
            hits AS (
              SELECT doc_id, dl, word, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, dl, unnest(w) AS word FROM dl)
              WHERE word IN ('spark', 'vector', 'join')
              GROUP BY 1, 2, 3),
            dfs AS (SELECT word, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
            bscored AS (
              SELECT doc_id, list_sum(list(s ORDER BY word)) AS score FROM (
                SELECT h.doc_id, h.word,
                       CAST(length(printf('%b', CAST(st.n AS BIGINT) * 2 + 2))
                            - length(printf('%b', CAST(d.df AS BIGINT) * 2 + 1))
                            AS DOUBLE)
                         * h.tf * (1.2 + 1)
                         / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.dl / st.avgdl))
                         AS s
                FROM hits h JOIN dfs d USING (word), stats st)
              GROUP BY 1),
            bmr AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
              FROM (SELECT * FROM bscored ORDER BY score DESC, doc_id LIMIT 20)),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            norm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e),
            annr AS (
              SELECT doc_id, rank FROM (
                SELECT c.vec_id AS doc_id,
                       CAST(row_number() OVER (
                         ORDER BY list_dot_product(q.v, c.v) / (q.n * c.n) DESC,
                                  c.vec_id) AS BIGINT) AS rank
                FROM norm q JOIN norm c ON c.vec_id <> 0
                WHERE q.vec_id = 0) r
              WHERE rank <= 20),
            u AS (SELECT 'ann' AS src, doc_id, rank FROM annr
                  UNION ALL
                  SELECT 'bm25' AS src, doc_id, rank FROM bmr),
            f AS (SELECT doc_id,
                         list_sum(list(1.0 / (60 + rank) ORDER BY src, rank)) AS rrf,
                         CAST(count(*) AS INTEGER) AS n_lists
                  FROM u GROUP BY doc_id),
            topk AS (SELECT doc_id, rrf, n_lists,
                            CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                              AS fused_rank
                     FROM f)
            SELECT doc_id, round(rrf, 6) AS rrf, n_lists, fused_rank
            FROM topk WHERE fused_rank <= 10
            ORDER BY doc_id"""))

  // one MMR greedy round over the fused shortlist (same shape as
  // SimilarityQueries.mmrRoundSql; sh here carries cosine-to-query rel)
  private def e2eMmrRoundSql(r: Int, prev: String): String =
    s"""pen$r AS (
              SELECT p.a AS cand, max(p.sim) AS ms
              FROM ps p JOIN $prev x ON x.cand = p.b
              GROUP BY 1),
            sc$r AS (
              SELECT s.cand, s.rel, 3 * s.rel - pen$r.ms AS score
              FROM sh s JOIN pen$r USING (cand)
              LEFT JOIN $prev x ON x.cand = s.cand
              WHERE x.cand IS NULL),
            sel$r AS MATERIALIZED (
              SELECT cand, rel, $r AS pick FROM (
                SELECT *, row_number() OVER (ORDER BY score DESC, cand)
                  AS rn FROM sc$r) t
              WHERE rn = 1),
            selall$r AS MATERIALIZED (
              SELECT * FROM $prev UNION ALL SELECT * FROM sel$r)"""

  // The retrieval stack end-to-end as ONE oracle-checked chain — the
  // search-side sibling of pipeline_e2e: BM25 top-20 + brute ANN top-20
  // → reciprocal-rank fusion (recall stage) → embedding MMR top-5 over
  // the fused pool (precision + diversity stage, rel = cosine to the
  // query vector) → greedy context packing under a 1000-char budget in
  // pick order (running sum, kept flag). Every stage is an
  // already-verified operator; composing them in one lazy plan makes
  // cross-stage seams (id drift, rank ties, rounding) surface as value
  // mismatches against the single whole-chain oracle.
  private val searchE2e = Q(
    "search_e2e",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lex = TextAnalysis.rankByScore(
        TextAnalysis.bm25TopK(docs, "doc_id", "text",
          Seq("spark", "vector", "join"), k = 20),
        "doc_id", "score", k = 20)
      val ann = graft.pipeline.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      // pinned (r15 opt): fused feeds BOTH the MMR shortlist (which
      // mmrFromShortlist pins/collects) and the final fused_rank join —
      // unpinned, the whole BM25+ANN+RRF chain executed twice per run
      val fused = graft.operators.Pinning.pin(TextAnalysis.rrfFuse(
        Seq("ann" -> ann, "bm25" -> lex), "doc_id", k = 10))
      // precision stage on the 1e-4 integer grid (the embed_jl_project
      // oracle-exactness posture): rel, the MMR pairwise sims, and the
      // 3·rel − maxsim scores are all deterministic doubles in both
      // engines, and rel emits as a floor-bucket, never round(double, 4)
      val embQ = emb.withColumn("embedding",
        graft.pipeline.Similarity.gridQuantize(col("embedding")))
      val qv = embQ.filter(col("vec_id") === 0)
        .select(col("embedding").as("__qv"))
      val shortlist = fused
        .join(embQ.select(col("vec_id").as("doc_id"), col("embedding")),
          "doc_id")
        .crossJoin(broadcast(qv))
        .select(lit(0L).as("query_id"), col("doc_id").as("cand"),
          graft.functions.Vectors.cosine(col("embedding"), col("__qv"))
            .as("rel"))
      // full emb as the vector source: the query doc itself may sit in
      // the fused pool (BM25 can rank it); the shortlist, not the
      // corpus filter, decides candidacy
      val picks = graft.pipeline.Similarity.mmrFromShortlist(
        shortlist, embQ, "vec_id", "embedding", k = 5)
      val sized = picks
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("pick_rank"), col("rel"))
        .join(fused.select(col("doc_id"), col("fused_rank")), "doc_id")
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val cumW = Window.partitionBy(col("query_id"))
        .orderBy(col("pick_rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sized.withColumn("cum_chars", sum(col("n_chars")).over(cumW))
        .select(col("doc_id"), col("pick_rank"), col("fused_rank"),
          graft.pipeline.Similarity.bucket4(col("rel")).as("rel"),
          col("n_chars"),
          col("cum_chars"), (col("cum_chars") <= 1000L).as("kept"))
        .orderBy(col("pick_rank"))
    },
    Some(s"""WITH t AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents),
            dl AS (SELECT doc_id, len(w)::DOUBLE AS dl, w FROM t),
            stats AS (SELECT count(*)::DOUBLE AS n,
                             CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE)
                               / count(*) AS avgdl
                      FROM dl),
            hits AS (
              SELECT doc_id, dl, word, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, dl, unnest(w) AS word FROM dl)
              WHERE word IN ('spark', 'vector', 'join')
              GROUP BY 1, 2, 3),
            dfs AS (SELECT word, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
            bscored AS (
              SELECT doc_id, list_sum(list(s ORDER BY word)) AS score FROM (
                SELECT h.doc_id, h.word,
                       CAST(length(printf('%b', CAST(st.n AS BIGINT) * 2 + 2))
                            - length(printf('%b', CAST(d.df AS BIGINT) * 2 + 1))
                            AS DOUBLE)
                         * h.tf * (1.2 + 1)
                         / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.dl / st.avgdl))
                         AS s
                FROM hits h JOIN dfs d USING (word), stats st)
              GROUP BY 1),
            bmr AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
              FROM (SELECT * FROM bscored ORDER BY score DESC, doc_id LIMIT 20)),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            eqz AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
                      x -> floor(x * 10000.0 + 0.5)) AS v FROM embeddings),
            annr AS (
              SELECT doc_id, rank FROM (
                SELECT c.vec_id AS doc_id,
                       CAST(row_number() OVER (
                         ORDER BY list_dot_product(q.v, c.v)
                           / sqrt(list_dot_product(q.v, q.v)
                                  * list_dot_product(c.v, c.v)) DESC,
                                  c.vec_id) AS BIGINT) AS rank
                FROM e q JOIN e c ON c.vec_id <> 0
                WHERE q.vec_id = 0) r
              WHERE rank <= 20),
            u AS (SELECT 'ann' AS src, doc_id, rank FROM annr
                  UNION ALL
                  SELECT 'bm25' AS src, doc_id, rank FROM bmr),
            f AS (SELECT doc_id,
                         list_sum(list(1.0 / (60 + rank) ORDER BY src, rank)) AS rrf
                  FROM u GROUP BY doc_id),
            topk AS (SELECT doc_id, rrf,
                            CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                              AS fused_rank
                     FROM f QUALIFY fused_rank <= 10),
            sh AS MATERIALIZED (
              SELECT tk.doc_id AS cand,
                     list_dot_product(q.v, c.v)
                       / sqrt(list_dot_product(q.v, q.v)
                              * list_dot_product(c.v, c.v)) AS rel
              FROM topk tk
              JOIN eqz c ON c.vec_id = tk.doc_id
              JOIN eqz q ON q.vec_id = 0),
            ps AS MATERIALIZED (
              SELECT a.cand AS a, b.cand AS b,
                     list_dot_product(ea.v, eb.v)
                       / sqrt(list_dot_product(ea.v, ea.v)
                              * list_dot_product(eb.v, eb.v)) AS sim
              FROM sh a JOIN sh b ON a.cand != b.cand
              JOIN eqz ea ON ea.vec_id = a.cand
              JOIN eqz eb ON eb.vec_id = b.cand),
            sel1 AS MATERIALIZED (
              SELECT cand, rel, 1 AS pick FROM (
                SELECT *, row_number() OVER (ORDER BY rel DESC, cand)
                  AS rn FROM sh) t
              WHERE rn = 1),
            ${e2eMmrRoundSql(2, "sel1")},
            ${e2eMmrRoundSql(3, "selall2")},
            ${e2eMmrRoundSql(4, "selall3")},
            ${e2eMmrRoundSql(5, "selall4")},
            sized AS (
              SELECT s.cand AS doc_id, s.pick, s.rel, tk.fused_rank,
                     d.n_chars
              FROM selall5 s
              JOIN topk tk ON tk.doc_id = s.cand
              JOIN documents d ON d.doc_id = s.cand),
            cum AS (
              SELECT *, sum(n_chars) OVER (ORDER BY pick
                ROWS UNBOUNDED PRECEDING) AS cum_chars
              FROM sized)
            SELECT doc_id, CAST(pick AS BIGINT) AS pick_rank, fused_rank,
                   floor(rel * 10000.0) / 10000.0 AS rel, n_chars,
                   CAST(cum_chars AS BIGINT) AS cum_chars,
                   cum_chars <= 1000 AS kept
            FROM cum ORDER BY pick_rank"""))

  // Exact top-k frequent word trigrams — the boilerplate/template-mining
  // sweep a corpus release runs before training (frequent n-grams surface
  // shared headers, license blurbs, scraped chrome). Heavy-hitter posture:
  // ONE map-side-combinable count on the trigram key (content-derived, so
  // skew-diffuse) and a TakeOrdered top-k — never a global sort; at 100 TB
  // the shuffle carries one row per distinct trigram per partition.
  // Deterministic tie cut: (n DESC, ngram ASC) on both engines.
  private val textTopNgrams = Q(
    "text_top_ngrams",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(split(lower(trim(col("text"))), "\\s+").as("t"))
        // sequence(1, 0) DESCENDS in Spark — guard short docs explicitly
        .select(explode(expr(
          """CASE WHEN size(t) >= 3
               THEN transform(sequence(1, size(t) - 2),
                      i -> concat_ws(' ', t[i - 1], t[i], t[i + 1]))
               ELSE CAST(array() AS ARRAY<STRING>) END"""))
          .as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(25)
    },
    Some("""SELECT ngram, count(1) AS n
            FROM (
              SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS ngram
              FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents) d,
                   unnest(range(1, greatest(len(t) - 1, 1))) u(i)) g
            GROUP BY ngram
            ORDER BY n DESC, ngram
            LIMIT 25"""))

  // Per-document keyword extraction: top-3 terms by tf·idf. IDF uses the
  // same libm-free integer log2 (binary-digit count) as
  // text_unigram_surprisal, so scores are INTEGERS and the ranking is
  // bit-identical in any engine — no float log crosses the oracle. The
  // term-document reduce and the df reduce are both map-side combinable;
  // the df dimension (vocabulary-sized) broadcasts back; the per-doc
  // top-3 is a bounded CollectTopK aggregation — never a global sort.
  private val textTfidfTopk = Q(
    "text_tfidf_topk",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val w = docs.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      val tf = w.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df stacks on the tf aggregate — one row per (doc, term) already —
      // so the expensive token explode is scanned ONCE, not twice
      val dfDim = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(dfDim), "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf") * (length(bin(col("n_docs"))) - length(bin(col("df"))))
            .cast("long"))
      // bounded per-doc top-3 (CollectTopK): the window form shuffled
      // every (doc, term) row; this shuffles at most 3 per (doc, task)
      scored.groupBy(col("doc_id"))
        .agg(org.apache.spark.sql.graft.ColumnBridge.collectBottomK(
          struct((-col("score")).as("neg"), col("term"), col("tf")), 3)
          .as("__tk"))
        .select(col("doc_id"), posexplode(col("__tk")).as(Seq("__i", "__t")))
        .select(col("doc_id"), (col("__i") + 1).cast("long").as("rank"),
          col("__t.term").as("term"), col("__t.tf").as("tf"),
          (-col("__t.neg")).as("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""WITH w AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\s+'))
                       AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(1) AS tf
                   FROM w GROUP BY doc_id, term),
            dfd AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM w GROUP BY term),
            n AS (SELECT count(1) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term, tf,
                     tf * (length(bin(n.n_docs)) - length(bin(dfd.df)))
                       AS score
              FROM tf JOIN dfd USING (term), n),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, term) AS rank
              FROM scored)
            SELECT doc_id, rank, term, tf, CAST(score AS BIGINT) AS score
            FROM ranked WHERE rank <= 3
            ORDER BY doc_id, rank"""))

  // Windowed co-occurrence lift — the PMI-style association table behind
  // skip-gram/embedding preprocessing and collocation mining. Lift stays
  // an exact INTEGER (basis points of observed/expected under unigram
  // independence: cnt_ab·N·10000 div (cnt_a·cnt_b)), so the ranking is
  // engine-exact — PMI's log is monotone in the ratio, so top-k by lift =
  // top-k by PMI. Adjacent-pair explode is narrow; pair and unigram
  // reduces are map-side combinable on content keys; unigram dims
  // broadcast back; top-25 is TakeOrdered, never a global sort.
  private val textPmiPairs = Q(
    "text_pmi_pairs",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(split(lower(trim(col("text"))), "\\s+").as("t"))
      val pairs = toks.select(explode(expr(
          """CASE WHEN size(t) >= 2
               THEN transform(sequence(1, size(t) - 1),
                      i -> struct(t[i - 1] AS w1, t[i] AS w2))
               ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
             END""")).as("p"))
        .select(col("p.w1"), col("p.w2"))
      val pairCnt = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_ab"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      val total = pairs.agg(count(lit(1)).as("n_pairs"))
      pairCnt
        .join(broadcast(uni.select(col("w").as("w1"), col("n").as("n_a"))),
          "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("n").as("n_b"))),
          "w2")
        .crossJoin(broadcast(total))
        .filter(col("n_ab") >= 5)
        .withColumn("lift_bp",
          expr("n_ab * n_pairs * 10000 div (n_a * n_b)"))
        .select(col("w1"), col("w2"), col("n_ab"), col("lift_bp"))
        .orderBy(col("lift_bp").desc, col("w1"), col("w2"))
        .limit(25)
    },
    Some("""WITH t AS (
              SELECT string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents),
            pairs AS (
              SELECT w[i] AS w1, w[i + 1] AS w2
              FROM t, unnest(range(1, greatest(len(w), 1))) u(i)),
            pc AS (SELECT w1, w2, count(1) AS n_ab
                   FROM pairs GROUP BY w1, w2),
            uni AS (SELECT unnest(w) AS word FROM t),
            uc AS (SELECT word, count(1) AS n FROM uni GROUP BY word),
            tot AS (SELECT count(1) AS n_pairs FROM pairs)
            SELECT w1, w2, n_ab,
                   CAST(n_ab * n_pairs * 10000 // (a.n * b.n) AS BIGINT)
                     AS lift_bp
            FROM pc JOIN uc a ON pc.w1 = a.word
                    JOIN uc b ON pc.w2 = b.word, tot
            WHERE n_ab >= 5
            ORDER BY lift_bp DESC, w1, w2
            LIMIT 25"""))

  // Heavy hitters against a count-min sketch: the top-25 exact tokens
  // with their CMS point estimates (d=4 × w=256 counters, md5-derived
  // buckets). The sketch is the bounded-memory 100 TB structure — state
  // is d·w counters no matter the vocabulary, shard sketches merge by
  // addition — and with portable hashing the whole thing (build +
  // estimates) replays in DuckDB.
  private val textHeavyHitters = Q(
    "text_heavy_hitters",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val words = docs.select(
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      val exact = words.groupBy(col("word")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("word")).limit(25)
      val sketch = TextAnalysis.cmsSketch(docs, "text", 4, 256)
      TextAnalysis.cmsEstimate(exact, "word", sketch, 4, 256)
        .orderBy(col("n_exact").desc, col("word"))
    },
    Some("""WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                         AS word
                       FROM documents),
            ex AS (SELECT word, count(1) AS n_exact FROM w GROUP BY word
                   ORDER BY n_exact DESC, word LIMIT 25),
            sk AS (SELECT j,
                     ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || word), 1, 15))::BIGINT
                       % 256 AS b,
                     count(1) AS c
                   FROM w CROSS JOIN range(0, 4) t(j) GROUP BY 1, 2)
            SELECT e.word, CAST(e.n_exact AS BIGINT) AS n_exact,
                   CAST(min(sk.c) AS BIGINT) AS n_cms
            FROM ex e CROSS JOIN range(0, 4) t(j)
                 JOIN sk ON sk.j = t.j AND
                   sk.b = ('0x' || substr(md5(CAST(t.j AS VARCHAR) || '|' || e.word), 1, 15))::BIGINT
                     % 256
            GROUP BY e.word, e.n_exact
            ORDER BY n_exact DESC, word"""))

  // Longest repeated substring per document (truncated to 200 chars) —
  // the suffix-array statistic behind within-doc repetition removal (Lee
  // et al. 2022 run the same reduction corpus-wide): LRS len = max LCP of
  // SA-adjacent suffixes. One narrow codegen'd kernel per row (suffix
  // sort + adjacent-LCP scan, TextAnalysis.Lrs); the oracle sorts the
  // suffixes directly and takes the lag-LCP max, ties to the smallest
  // repeated substring on both sides.
  private val textLrs = Q(
    "text_lrs",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          TextAnalysis.longestRepeatedSubstring(
            substring(col("text"), 1, 200)).as("r"))
        .select(col("doc_id"), col("r.lrs_len").as("lrs_len"),
          col("r.lrs").as("lrs"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, substring(text, 1, 200) AS t FROM documents),
            sfx AS (SELECT doc_id,
                      unnest(list_transform(range(1, length(t) + 1),
                        i -> substr(t, CAST(i AS INTEGER)))) AS s
                    FROM t WHERE length(t) >= 2),
            ord AS (SELECT doc_id, s,
                           lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
                    FROM sfx),
            lcp AS (SELECT doc_id, s, prev,
                           CASE WHEN prev IS NULL THEN 0
                                ELSE coalesce(list_min(list_filter(
                                         range(1, least(length(s), length(prev)) + 1),
                                         l -> substr(s, CAST(l AS INTEGER), 1)
                                              != substr(prev, CAST(l AS INTEGER), 1))),
                                       least(length(s), length(prev)) + 1) - 1
                           END AS l
                    FROM ord),
            mx AS (SELECT doc_id, max(l) AS lrs_len FROM lcp GROUP BY doc_id),
            pick AS (SELECT lcp.doc_id,
                            min(substr(s, 1, CAST(mx.lrs_len AS INTEGER))) AS lrs
                     FROM lcp JOIN mx ON lcp.doc_id = mx.doc_id
                                     AND lcp.l = mx.lrs_len
                     WHERE mx.lrs_len > 0
                     GROUP BY lcp.doc_id)
            SELECT t.doc_id, CAST(coalesce(mx.lrs_len, 0) AS INTEGER) AS lrs_len,
                   coalesce(pick.lrs, '') AS lrs
            FROM t LEFT JOIN mx USING (doc_id) LEFT JOIN pick USING (doc_id)
            ORDER BY doc_id"""))

  // Exact heavy hitters by Misra-Gries candidates + exact recount: the
  // deterministic complement to the CMS sketch above. Pass 1's state is
  // <= 100 counters per merge path (no vocabulary ever ships); pass 2
  // recounts only the candidate superset (semi join before the shuffle)
  // and keeps n_exact*k > n_total — EXACT output by the MG guarantee, so
  // the oracle is the plain HAVING query, no sketch replay needed.
  private val textMgExactHeavy = Q(
    "text_mg_exact_heavy",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val words = docs.select(
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      graft.operators.MisraGries.heavyHitters(words, "word", 100)
        .orderBy(col("word"))
    },
    Some("""WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                         AS word
                       FROM documents),
            t AS (SELECT count(1) AS n FROM w)
            SELECT word, CAST(count(1) AS BIGINT) AS n_exact
            FROM w, t GROUP BY word, t.n
            HAVING count(1) * 100 > t.n
            ORDER BY word"""))

  // Unicode normalization scrub (NFC + accent fold): the canonical first
  // stage of a text pipeline — decomposed codepoint sequences must fold
  // to one canonical form BEFORE any content hash/shingle, or visually
  // identical documents evade exact dedup. Both kernels are codegen'd
  // Expressions (java.text.Normalizer), exercised here against DuckDB's
  // ICU implementations on text deterministically decorated with a
  // DECOMPOSED accent (a + U+0301): NFC must recompose it (length
  // shrinks), strip_accents must fold it back to plain 'a'.
  private val textNormalize = Q(
    "text_normalize",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val dec = regexp_replace(col("text"), "a", "á")
      docs.select(col("doc_id"),
          length(dec).as("n_raw"),
          length(graft.functions.UnicodeNorm.nfc(dec)).as("n_nfc"),
          md5(graft.functions.UnicodeNorm.stripAccents(
            graft.functions.UnicodeNorm.nfc(dec))).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id,
                              replace(text, 'a', 'a' || chr(769)) AS dec
                       FROM documents)
            SELECT doc_id,
                   CAST(length(dec) AS BIGINT) AS n_raw,
                   CAST(length(nfc_normalize(dec)) AS BIGINT) AS n_nfc,
                   md5(strip_accents(nfc_normalize(dec))) AS clean_md5
            FROM d ORDER BY doc_id"""))

  // ---- Linear probe TRAINING (weak supervision) + exact ROC-AUC ----
  //
  // The CCNet/fastText pipeline move: fit a cheap linear classifier on
  // surface features against a weak label (here: is the labeled lang
  // English?), IN the engine, then evaluate it exactly. Training is
  // full-batch GD with order-free DECIMAL(38,18) gradient sums
  // (TextAnalysis.linearProbeTrain), so every iteration — and therefore
  // the weights and every downstream score — replays bit-for-bit in the
  // unrolled DuckDB oracle below.
  private val ProbeEta = 0.5
  private val ProbeIters = 12

  /** Probe features: English-marker hit ratio (fastText-langid shape),
    * scaled token count, scaled mean word length. All ratios/scalings of
    * counts — drift-free IEEE doubles, replayable in DuckDB verbatim.
    * (C4-style punct/upper features are dead on this corpus — the
    * synthetic text is lowercase and unpunctuated — and the per-language
    * marker ratios carry no signal because the filler text is English-ish
    * for every `lang` label; kept out so every reported weight is live.)
    */
  private def probeFeatures: Seq[(String, org.apache.spark.sql.Column)] = {
    val words = split(lower(trim(col("text"))), "\\s+")
    val toks = size(split(trim(col("text")), "\\s+")).cast("double")
    val chars = length(col("text")).cast("double")
    val enHits = size(filter(words, w => w.isin(markers("en"): _*)))
      .cast("double")
    Seq(
      "r_en" -> when(toks > 0, enHits / toks).otherwise(lit(0.0)),
      "ntok_scaled" -> (toks / 100.0),
      "mwl_scaled" ->
        (when(toks > 0, chars / toks).otherwise(lit(0.0)) / 10.0))
  }

  /** The same features as DuckDB SQL expressions over the `raw` CTE's
    * toks/chars/h_en columns — index-aligned with [[probeFeatures]] plus
    * the implicit leading bias x0.
    */
  private def probeFeatureSql: Seq[String] = Seq(
    "CASE WHEN toks > 0 THEN h_en / toks ELSE 0.0 END",
    "toks / 100.0",
    "(CASE WHEN toks > 0 THEN chars / toks ELSE 0.0 END) / 10.0")

  private def probeFeatureNames: Seq[String] =
    Seq("r_en", "ntok_scaled", "mwl_scaled")

  /** Weak label: the Gopher/C4-style length gate (metadata `n_chars`
    * ≥ 300) — the standing pattern of bootstrapping a cheap learned
    * filter from a rule-based one.
    */
  private def probeLabel: org.apache.spark.sql.Column =
    (col("n_chars") >= 300).cast("double")
  private val probeLabelSql =
    "CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END"

  /** A reusable trained-filter specification (VERDICT r9 #8): the engine
    * feature columns, the index-aligned DuckDB expressions over a `raw`
    * CTE the spec also provides, the weak label, and the GD
    * hyperparameters. `TextAnalysis.linearProbeTrain` consumes the
    * engine half; [[probeOraclePrefixFor]] unrolls the oracle half —
    * so a new corpus/feature-set needs one ProbeSpec, not a new oracle
    * generator.
    */
  private case class ProbeSpec(
      key: String,
      eta: Double,
      iters: Int,
      featureNames: Seq[String],
      features: Seq[(String, org.apache.spark.sql.Column)],
      rawCteSql: String, // "raw AS (SELECT ..cols.., <label> AS y FROM ...)"
      featureSql: Seq[String]) { // over raw's columns, index-aligned
    def dim: Int = featureNames.size + 1 // + bias x0
  }

  // train + auc + calibration share one fit per (session, corpus, spec):
  // iters×(d+1) aggregation passes run once, every query reads the
  // (d+1)-double result
  private def trainedProbeFor(p: ProbeSpec)(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, Double)] =
    graft.SessionMemo(s, "text.probe", dir + "|" + p.key)(
      TextAnalysis.linearProbeTrain(
        Tables.load(s, dir, "documents"), p.features, probeLabel,
        eta = p.eta, iters = p.iters))

  /** The engine's per-row prediction chain as SQL: the SAME left-assoc
    * fold linearProbeTrain builds, so every intermediate double matches.
    */
  private def probePredSql(dim: Int): String =
    (0 until dim).foldLeft("0.0") { (acc, j) =>
      s"($acc + w.b$j * f.x$j)"
    }

  /** The oracle's feature + unrolled-GD CTE prefix for a spec, ending at
    * CTE `w{iters}` — shared by the train/auc/calibration oracles.
    * Arithmetic mirrors the engine chain EXACTLY (left-associated adds,
    * one decimal round per gradient term, (step·g)/n updates). Deep CTE
    * chains MUST stay MATERIALIZED — inlining goes exponential in the
    * unroll depth.
    */
  private def probeOraclePrefixFor(p: ProbeSpec): String = {
    val step = java.lang.Double.toString(p.eta * 2.0)
    val xCols = ("1.0" +: p.featureSql).zipWithIndex
      .map { case (e, j) => s"$e AS x$j" }
      .mkString(",\n                     ")
    val zeroW = (0 until p.dim).map(j => s"0.0 AS b$j").mkString(", ")
    val base = s"""WITH ${p.rawCteSql},
            f AS MATERIALIZED (
              SELECT $xCols,
                     y
              FROM raw),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
            w0 AS (SELECT $zeroW)"""
    val rounds = (1 to p.iters).map { t =>
      val gs = (0 until p.dim).map(j =>
        s"sum(CAST(((${probePredSql(p.dim)}) - f.y) * f.x$j AS DECIMAL(38,18))) AS g$j")
        .mkString(",\n                     ")
      val ws = (0 until p.dim).map(j =>
        s"w.b$j - ($step * CAST(g.g$j AS DOUBLE)) / n.n AS b$j")
        .mkString(",\n                     ")
      s""",
            g$t AS MATERIALIZED (SELECT $gs
              FROM f, w${t - 1} w),
            w$t AS MATERIALIZED (SELECT $ws
              FROM w${t - 1} w, g$t g, nn n)"""
    }.mkString
    base + rounds
  }

  /** The flagship probe: the r8 feature set, unchanged. */
  private def mainProbe: ProbeSpec = {
    val enList = markers("en").map(w => s"'$w'").mkString(",")
    ProbeSpec(
      key = "main",
      eta = ProbeEta,
      iters = ProbeIters,
      featureNames = probeFeatureNames,
      features = probeFeatures,
      rawCteSql = s"""raw AS (
              SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS toks,
                     CAST(length(text) AS DOUBLE) AS chars,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       w -> w IN ($enList))) AS DOUBLE) AS h_en,
                     $probeLabelSql AS y
              FROM documents)""",
      featureSql = probeFeatureSql)
  }

  // back-compat shims for the three r8 queries below
  private def trainedProbe(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, Double)] =
    trainedProbeFor(mainProbe)(s, dir)
  private def probeOraclePrefix: String = probeOraclePrefixFor(mainProbe)
  private def probePredSql: String = probePredSql(mainProbe.dim)

  private val textProbeTrain = Q(
    "text_probe_train",
    (s, dir) => {
      val w = trainedProbe(s, dir)
      s.createDataFrame(w).toDF("feature", "weight")
        .withColumn("weight", round(col("weight"), 6))
        .orderBy(col("feature"))
    },
    Some {
      val sel = ("bias" +: probeFeatureNames).zipWithIndex.map { case (nm, j) =>
        s"SELECT '$nm' AS feature, round(b$j, 6) AS weight FROM w$ProbeIters"
      }.mkString("\n            UNION ALL ")
      s"""$probeOraclePrefix
            $sel
            ORDER BY feature"""
    })

  /** The trained probe's score as a Column — the SAME left-assoc chain
    * the trainer used, so scores replay bit-for-bit against the oracle's
    * `sc` CTE.
    */
  private def probeScore(w: Seq[Double]): org.apache.spark.sql.Column =
    (lit(1.0).as("x0") +: probeFeatures.map(_._2))
      .zip(w).foldLeft(lit(0.0): org.apache.spark.sql.Column) {
        case (acc, (c, wi)) => acc + lit(wi) * c
      }

  private val textProbeAuc = Q(
    "text_probe_auc",
    (s, dir) => {
      val scored = Tables.load(s, dir, "documents")
        .select(probeScore(trainedProbe(s, dir).map(_._2)).as("score"),
          probeLabel.as("y"))
      TextAnalysis.rocAuc(scored, "score", col("y"))
        .withColumn("auc", round(col("auc"), 6))
    },
    Some {
      s"""$probeOraclePrefix,
            sc AS (SELECT ($probePredSql) AS s, f.y
              FROM f, w$ProbeIters w),
            g AS (SELECT s,
                     CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                     CAST(sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS neg
              FROM sc GROUP BY s),
            c AS (SELECT pos, neg,
                     sum(pos + neg) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
                       - (pos + neg) AS cum
              FROM g),
            t AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
                     CAST(sum(neg) AS BIGINT) AS nneg,
                     CAST(sum(pos * (2 * cum + pos + neg + 1)) AS BIGINT) AS r2
              FROM c)
            SELECT np AS n_pos, nneg AS n_neg,
                   round((CAST(r2 AS DOUBLE) / 2.0 - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2.0)
                     / (CAST(np AS DOUBLE) * CAST(nneg AS DOUBLE)), 6) AS auc
            FROM t"""
    })

  // Reliability-diagram data for the trained probe: 10 equal-width score
  // bins → count, mean score, observed positive rate per bin (the
  // calibration check that tells you whether a learned filter's scores
  // can be thresholded meaningfully). Per-bin means use the order-free
  // DECIMAL(38,18) sum so the doubles replay exactly; bin edges come from
  // the global min/max (two exact aggregates, broadcast as one row).
  private val textProbeCalibration = Q(
    "text_probe_calibration",
    (s, dir) => {
      val sc = Tables.load(s, dir, "documents")
        .select(probeScore(trainedProbe(s, dir).map(_._2)).as("s"),
          probeLabel.as("y"))
      val mm = sc.agg(min(col("s")).as("smin"), max(col("s")).as("smax"))
      sc.crossJoin(broadcast(mm))
        .withColumn("bin",
          when(col("smax") > col("smin"),
            least(floor(((col("s") - col("smin")) /
              (col("smax") - col("smin"))) * 10).cast("long"), lit(9L)))
            .otherwise(lit(0L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("s").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 6).as("mean_score"),
          round(sum(when(col("y") === 1.0, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("pos_rate"))
        .orderBy(col("bin"))
    },
    Some {
      s"""$probeOraclePrefix,
            sc AS (SELECT ($probePredSql) AS s, f.y
              FROM f, w$ProbeIters w),
            mm AS (SELECT min(s) AS smin, max(s) AS smax FROM sc),
            bins AS (SELECT
                CASE WHEN smax > smin
                     THEN LEAST(CAST(floor(((s - smin) / (smax - smin)) * 10) AS BIGINT), 9)
                     ELSE 0 END AS bin,
                s, y
              FROM sc, mm)
            SELECT bin, count(1) AS n,
                   round(CAST(sum(CAST(s AS DECIMAL(38,18))) AS DOUBLE) / count(1), 6) AS mean_score,
                   round(CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(1), 6) AS pos_rate
            FROM bins GROUP BY bin ORDER BY bin"""
    })

  /** A SECOND feature set through the same spec-driven pipeline (r9 #8's
    * "done" condition): lexical-diversity features — unique-word ratio,
    * mean word length, scaled char count — with its own iteration count.
    * No new oracle generator: the spec is the only addition.
    */
  private def lexicalProbe: ProbeSpec = ProbeSpec(
    key = "lexical",
    eta = 0.5,
    iters = 8,
    featureNames = Seq("uniq_ratio", "mwl_scaled", "chars_scaled"),
    features = {
      val words = split(lower(trim(col("text"))), "\\s+")
      val toks = size(split(trim(col("text")), "\\s+")).cast("double")
      val chars = length(col("text")).cast("double")
      val uniq = size(array_distinct(words)).cast("double")
      Seq(
        "uniq_ratio" -> when(toks > 0, uniq / toks).otherwise(lit(0.0)),
        "mwl_scaled" ->
          (when(toks > 0, chars / toks).otherwise(lit(0.0)) / 10.0),
        "chars_scaled" -> (chars / 1000.0))
    },
    rawCteSql = s"""raw AS (
              SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS toks,
                     CAST(length(text) AS DOUBLE) AS chars,
                     CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS DOUBLE) AS uniq,
                     $probeLabelSql AS y
              FROM documents)""",
    featureSql = Seq(
      "CASE WHEN toks > 0 THEN uniq / toks ELSE 0.0 END",
      "(CASE WHEN toks > 0 THEN chars / toks ELSE 0.0 END) / 10.0",
      "chars / 1000.0"))

  private val textProbeTrainLexical = Q(
    "text_probe_train_lexical",
    (s, dir) => {
      val w = trainedProbeFor(lexicalProbe)(s, dir)
      s.createDataFrame(w).toDF("feature", "weight")
        .withColumn("weight", round(col("weight"), 6))
        .orderBy(col("feature"))
    },
    Some {
      val p = lexicalProbe
      val sel = ("bias" +: p.featureNames).zipWithIndex.map { case (nm, j) =>
        s"SELECT '$nm' AS feature, round(b$j, 6) AS weight FROM w${p.iters}"
      }.mkString("\n            UNION ALL ")
      s"""${probeOraclePrefixFor(p)}
            $sel
            ORDER BY feature"""
    })

  // Zipf rank-frequency slope — the corpus-health power-law check (a
  // natural-language corpus fits slope ≈ -1; boilerplate/spam floods or
  // template collapse bend it). Token frequencies reduce map-side; the
  // global frequency rank comes from the two-phase Numbering shape (one
  // range shuffle), never a single-partition window; the OLS fit runs in
  // exact integer floor-log2 space (length(bin(x)) - 1, the same libm-free
  // log2 as text_unigram_surprisal) so all five regression sums are
  // integers on both engines and only the final slope/intercept divisions
  // are (deterministic, scalar) doubles. At 100 TB nothing here grows
  // beyond the vocabulary: the fit itself is a 5-long reduce.
  private val textZipfSlope = Q(
    "text_zipf_slope",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val freq = docs
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      val ranked = graft.operators.Numbering.runningBySort(
        freq, Seq(col("freq").desc, col("tok")), lit(1L), "rank")
      ranked
        .select((length(bin(col("rank"))) - 1).cast("long").as("x"),
          (length(bin(col("freq"))) - 1).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n").as("n_vocab"),
          round(when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0L,
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")))
            .otherwise(lit(0.0)), 4).as("slope"),
          round(when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0L,
            (col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
              / col("n"))
            .otherwise(lit(0.0)), 4).as("intercept"))
    },
    Some("""WITH f AS (
              SELECT tok, count(1) AS freq FROM (
                SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                FROM documents) t
              GROUP BY tok),
            r AS (SELECT freq,
                         row_number() OVER (ORDER BY freq DESC, tok) AS rank
                  FROM f),
            p AS (SELECT length(bin(rank)) - 1 AS x,
                         length(bin(freq)) - 1 AS y FROM r),
            s AS (SELECT count(1) AS n, sum(x) AS sx, sum(y) AS sy,
                         sum(x * y) AS sxy, sum(x * x) AS sxx FROM p)
            SELECT CAST(n AS BIGINT) AS n_vocab,
                   round(CASE WHEN n * sxx - sx * sx != 0
                     THEN CAST(n * sxy - sx * sy AS DOUBLE)
                          / (n * sxx - sx * sx) ELSE 0.0 END, 4) AS slope,
                   round(CASE WHEN n * sxx - sx * sx != 0
                     THEN (sy - CAST(n * sxy - sx * sy AS DOUBLE)
                                / (n * sxx - sx * sx) * sx) / n
                     ELSE 0.0 END, 4) AS intercept
            FROM s"""))

  // McNemar paired test between two quality gates over the SAME documents —
  // the principled way to ask "does the new filter actually disagree with
  // the old one beyond noise?" before swapping filters in a pipeline. The
  // discordant counts b (A-only) and c (B-only) are exact integers from one
  // map-side-combinable pass; chi2 = (b-c)^2/(b+c) (and the Edwards
  // continuity-corrected variant) are final scalar doubles. One row out.
  private val textFilterMcnemar = Q(
    "text_filter_mcnemar",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val f = TextAnalysis.qualityFeatures(col("text"), stopwords)
      val gated = docs.select(
        (f.getField("n_tokens") >= 10 && f.getField("mean_word_len") < 12.0)
          .as("ga"),
        (f.getField("stopword_ratio") >= 0.05).as("gb"))
      gated
        .agg(sum(when(col("ga") && col("gb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("ga") && !col("gb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("ga") && col("gb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("ga") && !col("gb"), 1L).otherwise(0L)).as("n00"))
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
          round(when(col("n10") + col("n01") > 0L,
            ((col("n10") - col("n01")) * (col("n10") - col("n01")))
              .cast("double") / (col("n10") + col("n01")))
            .otherwise(lit(0.0)), 4).as("chi2"),
          round(when(col("n10") + col("n01") > 0L,
            (abs(col("n10") - col("n01")) - lit(1L)).cast("double")
              * (abs(col("n10") - col("n01")) - lit(1L))
              / (col("n10") + col("n01")))
            .otherwise(lit(0.0)), 4).as("chi2_corrected"),
          round((col("n11") + col("n00")).cast("double")
            / (col("n11") + col("n10") + col("n01") + col("n00")), 4)
            .as("agree_rate"))
    },
    Some("""WITH t AS (
              SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks,
                     CAST(length(text) AS DOUBLE) AS chars,
                     CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       w -> w IN ('the','a','an','and','or','of','to','in')))
                       AS DOUBLE) AS stops
              FROM documents),
            g AS (
              SELECT toks >= 10 AND
                       (CASE WHEN toks > 0 THEN chars / toks ELSE 0.0 END) < 12.0 AS ga,
                     (CASE WHEN toks > 0 THEN stops / toks ELSE 0.0 END) >= 0.05 AS gb
              FROM t),
            c AS (
              SELECT sum(CASE WHEN ga AND gb THEN 1 ELSE 0 END) AS n11,
                     sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END) AS n10,
                     sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END) AS n01,
                     sum(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0 END) AS n00
              FROM g)
            SELECT CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
                   CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
                   round(CASE WHEN n10 + n01 > 0
                     THEN CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01)
                     ELSE 0.0 END, 4) AS chi2,
                   round(CASE WHEN n10 + n01 > 0
                     THEN CAST(abs(n10 - n01) - 1 AS DOUBLE)
                          * (abs(n10 - n01) - 1) / (n10 + n01)
                     ELSE 0.0 END, 4) AS chi2_corrected,
                   round(CAST(n11 + n00 AS DOUBLE)
                         / (n11 + n10 + n01 + n00), 4) AS agree_rate
            FROM c"""))

  // Inverse Simpson concentration of the corpus token distribution — the
  // "effective vocabulary size" health signal (a template flood collapses
  // it long before raw vocab counts move). lambda = sum f(f-1) / (N(N-1))
  // is the unbiased pairwise-collision form, so the numerator and both
  // denominator factors are EXACT integer sums (DECIMAL(38,0) on the
  // engine side — a 100 TB corpus overflows int64; DuckDB sums to HUGEINT
  // natively); only the final two divisions are doubles. One token-freq
  // reduce, then a 3-long reduce — nothing grows past the vocabulary.
  private val textSimpson = Q(
    "text_simpson",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
        .agg(count(lit(1)).as("vocab"),
          sum(col("f").cast("decimal(38,0)")).as("n"),
          // cast BEFORE the product: a 100 TB-corpus stop-token frequency
          // squares past int64 before the sum's decimal would catch it
          sum(col("f").cast("decimal(38,0)") * (col("f") - 1L)).as("num"))
        .select(col("vocab").cast("long").as("vocab"),
          col("n").cast("long").as("n_tokens"),
          round(when(col("n") > 1,
            col("num").cast("double")
              / (col("n").cast("double") * (col("n") - 1).cast("double")))
            .otherwise(lit(0.0)), 6).as("simpson"),
          round(when(col("num") > 0,
            (col("n").cast("double") * (col("n") - 1).cast("double"))
              / col("num").cast("double"))
            .otherwise(lit(0.0)), 4).as("inv_simpson"))
    },
    Some("""WITH f AS (
              SELECT tok, count(1) AS f FROM (
                SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                FROM documents) t
              GROUP BY tok),
            s AS (SELECT count(1) AS vocab, sum(f) AS n,
                         sum(f * (f - 1)) AS num FROM f)
            SELECT CAST(vocab AS BIGINT) AS vocab,
                   CAST(n AS BIGINT) AS n_tokens,
                   round(CASE WHEN n > 1
                     THEN CAST(num AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                     ELSE 0.0 END, 6) AS simpson,
                   round(CASE WHEN num > 0
                     THEN (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                          / CAST(num AS DOUBLE)
                     ELSE 0.0 END, 4) AS inv_simpson
            FROM s"""))

  // Per-document type-token ratio — the lexical-diversity quality feature
  // (low TTR = repetitive/generated text; pairs with text_repetition's
  // bigram view). Entirely narrow: distinct-count inside the word array,
  // no explode, no shuffle — the cheapest possible per-doc feature at any
  // corpus size.
  private val textTtr = Q(
    "text_ttr",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val ws = split(lower(trim(col("text"))), "\\s+")
      docs.select(col("doc_id"),
          size(ws).cast("long").as("n_tokens"),
          size(array_distinct(ws)).cast("long").as("n_types"))
        .withColumn("ttr", round(when(col("n_tokens") > 0L,
          col("n_types").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 4))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
                   CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                        AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+')))
                        AS BIGINT) AS n_types,
                   round(CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) > 0
                     THEN CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+')))
                               AS DOUBLE)
                          / len(string_split_regex(lower(trim(text)), '\s+'))
                     ELSE 0.0 END, 4) AS ttr
            FROM documents ORDER BY doc_id"""))

  val qs: Seq[Q] = Seq(textTokens, textQuality, textLangId, textFingerprint,
    textRepetition, textEntropy, textTokensBpe, textChunk, textQualityModel,
    textHashFeatures, textSurprisal, textBigramSurprisal, textVocabGrowth,
    textBm25,
    textTopNgrams, textTfidfTopk, textPmiPairs, textHeavyHitters,
    textMgExactHeavy, textLrs, textNormalize, textProbeTrain, textProbeAuc,
    textProbeCalibration, textProbeTrainLexical, searchHybridRrf,
    textPiiScrub, textHeapsCurve, textZipfSlope, textFilterMcnemar,
    textSimpson, textTtr, searchE2e)
}
