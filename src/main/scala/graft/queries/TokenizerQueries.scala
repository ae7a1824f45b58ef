package graft.queries

import graft.Tables
import graft.pipeline.Tokenizer
import org.apache.spark.sql.functions._

/** BPE tokenizer induction + encode over `documents` (Sennrich et al.
  * 2016). The training recursion is fully deterministic (integer pair
  * counts, ascending-pair tie break, leftmost non-overlapping merge
  * application), so the DuckDB oracle replays every round as an unrolled
  * CTE chain — the merge table AND the encode under it are both
  * value-checked, not just row-counted.
  */
object TokenizerQueries extends QueryModule {

  private val Rounds = 10

  // The merge table is a pure function of (corpus, rounds) — memoize it
  // per session like Profiles.cachedWarehouse, so the train and encode
  // entry points (and repeated invocations in a long-lived session) share
  // one training sweep instead of re-running the 10-round recursion.
  private def trainedMerges(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[Tokenizer.Merge] =
    graft.SessionMemo(s, "tokenizer.merges", dir + "|" + Rounds)(
      Tokenizer.bpeTrain(Tables.load(s, dir, "documents"), "text", Rounds))

  /** Shared oracle prelude: the word-frequency vocab (w0), char-level
    * reprs (r0), then per round r: pair counts (p_r), the winning pair
    * (b_r), and the merged vocab (r_r). Mirrors Tokenizer.bpeTrain
    * round for round.
    */
  private def trainCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("""WITH w0 AS MATERIALIZED (
        SELECT w, count(1) AS cnt
        FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
              FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY w),
      r0 AS MATERIALIZED (SELECT cnt,
               array_to_string(list_transform(range(1, length(w) + 1),
                 i -> w[i:i]), '  ') AS repr
             FROM w0)""")
    for (r <- 1 to rounds) {
      val prev = s"r${r - 1}"
      sb.append(s""",
      p$r AS MATERIALIZED (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
              FROM (SELECT cnt,
                      unnest(list_transform(
                        range(1, len(string_split(repr, '  '))),
                        i -> string_split(repr, '  ')[i] || ' ' ||
                             string_split(repr, '  ')[i + 1])) AS pair
                    FROM $prev)
              GROUP BY pair),
      b$r AS MATERIALIZED (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
      r$r AS MATERIALIZED (SELECT cnt,
                trim(replace(' ' || repr || ' ',
                  ' ' || replace((SELECT pair FROM b$r), ' ', '  ') || ' ',
                  ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' '))
                  AS repr
              FROM $prev)""")
    }
    sb.toString
  }

  // The learned merge table itself: rank, pair, fused symbol, winning
  // weighted adjacency count. k rows to the driver per round only (the
  // kmeansTrain posture); the corpus reduces once to the vocab.
  private val textBpeTrain = Q(
    "text_bpe_train",
    (s, dir) => {
      val merges = trainedMerges(s, dir)
      s.createDataFrame(merges).select(
        col("rank"), col("pair"), col("merged"), col("n"))
        .orderBy(col("rank"))
    },
    Some {
      val rows = (1 to Rounds).map(r =>
        s"SELECT $r AS rank, pair, replace(pair, ' ', '') AS merged, n FROM b$r")
        .mkString("\n        UNION ALL ")
      s"""${trainCtes(Rounds)}
        SELECT rank, pair, merged, n FROM (
        $rows) ORDER BY rank"""
    })

  // Greedy encode under the learned table: per-document subword token
  // count over the [a-z]+ word stream. The merges inline as literals into
  // one narrow codegen'd projection — no shuffle, stream-safe; the oracle
  // re-derives the merge table and applies the same nested replaces.
  private val textBpeEncode = Q(
    "text_bpe_encode",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val merges = trainedMerges(s, dir)
      docs.select(col("doc_id"),
          size(Tokenizer.alphaWords(col("text"))).cast("long").as("n_words"),
          Tokenizer.bpeTokenCount(col("text"), merges).as("n_bpe"))
        .orderBy(col("doc_id"))
    },
    Some {
      // charRepr(w) with all `Rounds` merges applied, innermost first
      val applied = (1 to Rounds).foldLeft(
        "array_to_string(list_transform(range(1, length(w) + 1), i -> w[i:i]), '  ')") {
        (acc, r) =>
          s"""trim(replace(' ' || $acc || ' ',
               ' ' || replace((SELECT pair FROM b$r), ' ', '  ') || ' ',
               ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' '))"""
      }
      s"""${trainCtes(Rounds)},
        wd AS MATERIALIZED (SELECT doc_id,
                 unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   w -> regexp_matches(w, '^[a-z]+$$'))) AS w
               FROM documents),
        ew AS MATERIALIZED (SELECT doc_id,
                 CAST(len(string_split($applied, '  ')) AS BIGINT) AS nt
               FROM wd)
        SELECT d.doc_id,
               CAST(len(list_filter(
                 string_split_regex(lower(trim(d.text)), '\\s+'),
                 w -> regexp_matches(w, '^[a-z]+$$'))) AS BIGINT) AS n_words,
               CAST(coalesce(sum(ew.nt), 0) AS BIGINT) AS n_bpe
        FROM documents d LEFT JOIN ew ON d.doc_id = ew.doc_id
        GROUP BY d.doc_id, d.text
        ORDER BY d.doc_id"""
    })

  // ---------------------------------------------------------------------
  // Greedy maximal-munch (WordPiece-inference / MaxMatch) under a
  // frequency-induced piece vocabulary — the walk-based encode that
  // complements BPE's merge replay. Fully integer-deterministic:
  // weighted substring counts with (n DESC, piece ASC) tie-break induce
  // the vocab; the longest-piece-at-each-position walk is replayed by the
  // oracle as a precomputed best-piece table + recursive descent.
  // ---------------------------------------------------------------------

  private val VocabN = 40
  private val PieceLen = 6

  private def trainedVocab(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, Long)] =
    graft.SessionMemo(s, "tokenizer.vocab", dir + s"|$VocabN|$PieceLen")(
      Tokenizer.maxMatchVocab(
        Tables.load(s, dir, "documents"), "text", VocabN, PieceLen))

  /** Shared oracle prelude: word frequencies (w0) and the ranked piece
    * vocabulary (v1) — mirrors Tokenizer.maxMatchVocab.
    */
  private val vocabCtes =
    s"""w0 AS (
        SELECT w, count(1) AS cnt
        FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
              FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$$')
        GROUP BY w),
      v1 AS (
        SELECT p, CAST(sum(cnt) AS BIGINT) AS n
        FROM (SELECT cnt,
                unnest(flatten(list_transform(
                  list_filter(range(2, ${PieceLen + 1}), l -> length(w) >= l),
                  l -> list_transform(range(1, length(w) - l + 2),
                    i -> w[i:i+l-1])))) AS p
              FROM w0)
        GROUP BY p ORDER BY n DESC, p LIMIT $VocabN)"""

  private val textMaxMatchVocab = Q(
    "text_maxmatch_vocab",
    (s, dir) => {
      val v = trainedVocab(s, dir)
      s.createDataFrame(v.zipWithIndex.map { case ((p, n), i) => (i + 1L, p, n) })
        .toDF("rank", "piece", "n")
        .orderBy(col("rank"))
    },
    Some(s"""WITH $vocabCtes
        SELECT CAST(row_number() OVER (ORDER BY n DESC, p) AS BIGINT) AS rank,
               p AS piece, n
        FROM v1 ORDER BY rank"""))

  // Tokenize-on-ingest under the frozen vocab: per-document piece count
  // over the [a-z]+ word stream. The piece set rides the plan as one
  // reference object; the per-word walk is a codegen'd kernel — no
  // shuffle. The oracle precomputes the longest matching piece per
  // (word, position) and replays the greedy walk as a recursive CTE over
  // the DISTINCT word vocabulary, then joins counts back to documents.
  private val textTokensMaxMatch = Q(
    "text_tokens_maxmatch",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pieces = trainedVocab(s, dir).map(_._1)
      docs.select(col("doc_id"),
          size(Tokenizer.alphaWords(col("text"))).cast("long").as("n_words"),
          Tokenizer.maxMatchTokenCount(col("text"), pieces, PieceLen).as("n_mm"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $vocabCtes,
        vv AS (SELECT p FROM v1
               UNION ALL SELECT chr(CAST(96 + x AS INTEGER)) AS p
                         FROM range(1, 27) t(x)),
        pos AS (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM w0),
        cand AS (SELECT pos.w, pos.i, vv.p
                 FROM pos JOIN vv
                   ON substr(pos.w, CAST(pos.i AS INTEGER), length(vv.p)) = vv.p),
        best AS (SELECT w, i, p FROM (
                   SELECT w, i, p, row_number() OVER (PARTITION BY w, i
                     ORDER BY length(p) DESC, p) AS rn
                   FROM cand) t WHERE rn = 1),
        walk AS (SELECT w, CAST(1 AS BIGINT) AS i, 0 AS nt FROM w0
                 UNION ALL
                 SELECT walk.w, walk.i + length(b.p), walk.nt + 1
                 FROM walk JOIN best b ON b.w = walk.w AND b.i = walk.i
                 WHERE walk.i <= length(walk.w)),
        done AS (SELECT w, nt FROM walk WHERE i = length(w) + 1),
        wd AS (SELECT doc_id,
                 unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   w -> regexp_matches(w, '^[a-z]+$$'))) AS w
               FROM documents)
        SELECT d.doc_id,
               CAST(len(list_filter(
                 string_split_regex(lower(trim(d.text)), '\\s+'),
                 w -> regexp_matches(w, '^[a-z]+$$'))) AS BIGINT) AS n_words,
               CAST(coalesce(sum(done.nt), 0) AS BIGINT) AS n_mm
        FROM documents d
        LEFT JOIN wd ON d.doc_id = wd.doc_id
        LEFT JOIN done ON wd.w = done.w
        GROUP BY d.doc_id, d.text
        ORDER BY d.doc_id"""))

  // ---------------------------------------------------------------------
  // Unigram-LM Viterbi segmentation (Kudo 2018 inference): optimal
  // minimum-surprisal decode over the SAME induced piece vocabulary the
  // maxmatch walk uses, plus the alphabet's corpus weights — the third
  // tokenizer family beside BPE and greedy maxmatch. Costs are integer
  // floor-log2 bits, the lattice DP minimizes the additive composite
  // cost·2^20 + pieces (= lexicographic min-cost-then-fewest-pieces), and
  // the oracle replays the DP as an unrolled per-position min recursion
  // over an edge table — no recursive path enumeration, no float.
  // ---------------------------------------------------------------------

  private val VitUnroll = 16 // covers the corpus' max word length (8) 2x over

  private def trainedChars(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, Long)] =
    graft.SessionMemo(s, "tokenizer.chars", dir)(
      Tokenizer.charCounts(Tables.load(s, dir, "documents"), "text"))

  /** The DP replay: char weights (c1), the combined cost table (vcost),
    * the lattice edge table (vedge), then states vb2..vb{n+1} where
    * vb_p = min composite over every edge landing on position p, and the
    * per-word result (vres) read from the state matching the word's
    * length. Every state is MATERIALIZED — later states reference earlier
    * ones up to PieceLen times.
    */
  private def viterbiCtes: String = {
    val sb = new StringBuilder
    sb.append(s"""c1 AS (
        SELECT p, CAST(sum(cnt) AS BIGINT) AS n
        FROM (SELECT cnt, unnest(list_transform(range(1, length(w) + 1),
                i -> w[i:i])) AS p
              FROM w0)
        GROUP BY p),
      vc AS (SELECT p, n FROM v1 UNION ALL SELECT p, n FROM c1),
      tb AS (SELECT length(bin(sum(n))) AS tbits FROM vc),
      vcost AS (SELECT p, CAST(tb.tbits - length(bin(n)) AS BIGINT) AS c
                FROM vc, tb),
      vpos AS (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM w0),
      vedge AS MATERIALIZED (
        SELECT vpos.w, vpos.i AS j, vpos.i + length(vcost.p) AS p2,
               vcost.c, vcost.p
        FROM vpos JOIN vcost
          ON substr(vpos.w, CAST(vpos.i AS INTEGER), length(vcost.p)) = vcost.p),
      vb1 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS comp FROM w0)""")
    for (p <- 2 to VitUnroll + 1) {
      val branches = (1 to math.min(PieceLen, p - 1)).map { l =>
        val j = p - l
        s"""SELECT e.w, b.comp + e.c * 1048576 + 1 AS comp
            FROM vedge e JOIN vb$j b ON e.w = b.w
            WHERE e.j = $j AND e.p2 = $p"""
      }.mkString("\n          UNION ALL ")
      sb.append(s""",
      vb$p AS MATERIALIZED (SELECT w, min(comp) AS comp FROM (
          $branches) t GROUP BY w)""")
    }
    val res = (2 to VitUnroll + 1).map { p =>
      s"SELECT b.w, b.comp FROM vb$p b JOIN w0 ON w0.w = b.w AND length(w0.w) = ${p - 1}"
    }.mkString("\n          UNION ALL ")
    sb.append(s""",
      vres AS (
          $res)""")
    sb.toString
  }

  /** The backtrack replay for the hard-EM round: vball stacks every DP
    * state (w, pos, comp); bt_s walks one edge backwards per step from
    * (w, len+1), choosing — among edges that land on the current state
    * with an optimal composite — the smallest predecessor position
    * (= the longest piece, the engine kernel's rule); seg unions each
    * step's chosen piece.
    */
  private def viterbiBacktrackCtes: String = {
    val vball = (1 to VitUnroll + 1).map(p =>
      s"SELECT w, $p AS pos, comp FROM vb$p").mkString("\n          UNION ALL ")
    val sb = new StringBuilder
    sb.append(s""",
      vball AS MATERIALIZED (
          $vball),
      bt0 AS (SELECT w, length(w) + 1 AS pos FROM w0)""")
    for (st <- 1 to VitUnroll) {
      sb.append(s""",
      bt$st AS MATERIALIZED (
        SELECT w, pos, p FROM (
          SELECT t.w, e.j AS pos, e.p,
                 row_number() OVER (PARTITION BY t.w ORDER BY e.j) AS rn
          FROM bt${st - 1} t
          JOIN vball cur ON cur.w = t.w AND cur.pos = t.pos
          JOIN vedge e ON e.w = t.w AND e.p2 = t.pos
          JOIN vball prv ON prv.w = t.w AND prv.pos = e.j
          WHERE prv.comp + e.c * 1048576 + 1 = cur.comp) x
        WHERE rn = 1)""")
    }
    val seg = (1 to VitUnroll).map(st =>
      s"SELECT w, p FROM bt$st").mkString("\n          UNION ALL ")
    sb.append(s""",
      vseg AS (
          $seg)""")
    sb.toString
  }

  // One hard-EM (Viterbi-EM) re-estimation round: segment every distinct
  // word optimally under the induced costs, recount piece usage weighted
  // by word frequency — the integer-exact M-step of unigram-LM training
  // (SentencePiece's EM with the E-step collapsed to the optimal path).
  // The oracle replays forward DP, deterministic backtrack (smallest
  // predecessor = longest piece), and the weighted recount.
  private val textUnigramEmVocab = Q(
    "text_unigram_em_vocab",
    (s, dir) => {
      val costs = Tokenizer.unigramCosts(trainedVocab(s, dir),
        trainedChars(s, dir))
      val docs = Tables.load(s, dir, "documents")
      val counts = Tokenizer.unigramEmCounts(docs, "text", costs, PieceLen)
      s.createDataFrame(counts.zipWithIndex.map {
        case ((p, n), i) => (i + 1L, p, n) })
        .toDF("rank", "piece", "n")
        .orderBy(col("rank"))
    },
    Some(s"""WITH $vocabCtes,
        $viterbiCtes
        $viterbiBacktrackCtes,
        newv AS (SELECT s.p AS piece, CAST(sum(w0.cnt) AS BIGINT) AS n
                 FROM vseg s JOIN w0 ON w0.w = s.w GROUP BY s.p)
        SELECT CAST(row_number() OVER (ORDER BY n DESC, piece) AS BIGINT)
                 AS rank,
               piece, n
        FROM newv ORDER BY rank"""))

  // Per-document optimal piece count and total surprisal under the
  // frozen cost table. The cost table rides the plan as one reference
  // object; the per-word lattice DP is a codegen'd kernel — no shuffle,
  // stream-safe (the maxmatch posture, optimal instead of greedy).
  private val textTokensViterbi = Q(
    "text_tokens_viterbi",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val costs = Tokenizer.unigramCosts(trainedVocab(s, dir),
        trainedChars(s, dir))
      val st = Tokenizer.viterbiTokenStats(col("text"), costs, PieceLen)
      docs.select(col("doc_id"),
          size(Tokenizer.alphaWords(col("text"))).cast("long").as("n_words"),
          st.getField("pieces").as("n_vit"),
          st.getField("cost").as("vit_cost_bits"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $vocabCtes,
        $viterbiCtes,
        wd AS (SELECT doc_id,
                 unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   w -> regexp_matches(w, '^[a-z]+$$'))) AS w
               FROM documents)
        SELECT d.doc_id,
               CAST(len(list_filter(
                 string_split_regex(lower(trim(d.text)), '\\s+'),
                 w -> regexp_matches(w, '^[a-z]+$$'))) AS BIGINT) AS n_words,
               CAST(coalesce(sum(r.comp % 1048576), 0) AS BIGINT) AS n_vit,
               CAST(coalesce(sum(r.comp // 1048576), 0) AS BIGINT)
                 AS vit_cost_bits
        FROM documents d
        LEFT JOIN wd ON d.doc_id = wd.doc_id
        LEFT JOIN vres r ON wd.w = r.w
        GROUP BY d.doc_id, d.text
        ORDER BY d.doc_id"""))

  // Tokenizer fertility report: corpus-total pieces per family
  // (whitespace words, greedy maxmatch, optimal unigram-LM Viterbi) plus
  // total surprisal bits where the family defines them — the "which
  // tokenizer and at what compression" tuning artifact, all integer-
  // exact (fertility in basis points via integer division; bits are the
  // DP's exact integer composites). One corpus pass per family kernel;
  // the oracle replays vocab induction, the greedy walk, and the
  // unrolled lattice DP over the DISTINCT word vocabulary and weights by
  // word frequency.
  private val tokenizerFertility = Q(
    "tokenizer_fertility",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pieces = trainedVocab(s, dir).map(_._1)
      val costs = Tokenizer.unigramCosts(trainedVocab(s, dir),
        trainedChars(s, dir))
      val st = Tokenizer.viterbiTokenStats(col("text"), costs, PieceLen)
      val tot = docs.select(
          size(Tokenizer.alphaWords(col("text"))).cast("long").as("__w"),
          Tokenizer.maxMatchTokenCount(col("text"), pieces, PieceLen)
            .as("__mm"),
          st.getField("pieces").as("__vit"),
          st.getField("cost").as("__bits"))
        .agg(sum(col("__w")).as("__w"), sum(col("__mm")).as("__mm"),
          sum(col("__vit")).as("__vit"), sum(col("__bits")).as("__bits"))
      tot.select(col("__w"), explode(array(
          struct(lit("maxmatch_greedy").as("family"),
            col("__mm").as("n_pieces"), lit(0L).as("total_bits")),
          struct(lit("unigram_viterbi").as("family"),
            col("__vit").as("n_pieces"), col("__bits").as("total_bits")),
          struct(lit("whitespace").as("family"),
            col("__w").as("n_pieces"), lit(0L).as("total_bits")))).as("f"))
        .select(col("f.family").as("family"), col("__w").as("n_words"),
          col("f.n_pieces").as("n_pieces"),
          expr("f.n_pieces * 10000 div __w").as("fertility_bp"),
          col("f.total_bits").as("total_bits"))
        .orderBy(col("family"))
    },
    Some(s"""WITH RECURSIVE $vocabCtes,
        vv AS (SELECT p FROM v1
               UNION ALL SELECT chr(CAST(96 + x AS INTEGER)) AS p
                         FROM range(1, 27) t(x)),
        pos AS (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM w0),
        cand AS (SELECT pos.w, pos.i, vv.p
                 FROM pos JOIN vv
                   ON substr(pos.w, CAST(pos.i AS INTEGER), length(vv.p)) = vv.p),
        best AS (SELECT w, i, p FROM (
                   SELECT w, i, p, row_number() OVER (PARTITION BY w, i
                     ORDER BY length(p) DESC, p) AS rn
                   FROM cand) t WHERE rn = 1),
        walk AS (SELECT w, CAST(1 AS BIGINT) AS i, 0 AS nt FROM w0
                 UNION ALL
                 SELECT walk.w, walk.i + length(b.p), walk.nt + 1
                 FROM walk JOIN best b ON b.w = walk.w AND b.i = walk.i
                 WHERE walk.i <= length(walk.w)),
        done AS (SELECT w, nt FROM walk WHERE i = length(w) + 1),
        $viterbiCtes,
        tot AS (
          SELECT CAST(sum(w0.cnt) AS BIGINT) AS w,
                 CAST(sum(done.nt * w0.cnt) AS BIGINT) AS mm,
                 CAST(sum((r.comp % 1048576) * w0.cnt) AS BIGINT) AS vit,
                 CAST(sum((r.comp // 1048576) * w0.cnt) AS BIGINT) AS bits
          FROM w0 JOIN done USING (w) JOIN vres r USING (w))
        SELECT family, n_words, n_pieces,
               n_pieces * 10000 // n_words AS fertility_bp, total_bits
        FROM (
          SELECT 'maxmatch_greedy' AS family, t.w AS n_words,
                 t.mm AS n_pieces, CAST(0 AS BIGINT) AS total_bits FROM tot t
          UNION ALL
          SELECT 'unigram_viterbi', t.w, t.vit, t.bits FROM tot t
          UNION ALL
          SELECT 'whitespace', t.w, t.w, CAST(0 AS BIGINT) FROM tot t)
        ORDER BY family"""))

  // Persisted tokenizer artifact (the third IndexStore family next to
  // the IVF and MinHash indexes): the merge table trains once, publishes
  // under the versioned pointer, and this query ENCODES FROM THE LOADED
  // ARTIFACT — zero training work, k rows read. Strings/longs round-trip
  // parquet exactly, so the encode is bit-identical to text_bpe_encode's
  // in-session path and SHARES its oracle (the dedup_index_persisted
  // discipline). Production cadence: re-train + atomic pointer flip when
  // the corpus drifts; readers mid-encode keep the N-1 version.
  private def cachedTokenizerStore(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.SessionMemo(s, "tokenizer.store", dir + "|" + Rounds) {
      val p = graft.SessionMemo.tempPath(s, "tokidx")
      graft.pipeline.IndexStore.saveTokenizer(s, trainedMerges(s, dir), p)
      p
    }

  private val tokenizerPersisted = Q(
    "tokenizer_persisted",
    (s, dir) => {
      val merges = graft.pipeline.IndexStore.loadTokenizer(
        s, cachedTokenizerStore(s, dir))
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          size(Tokenizer.alphaWords(col("text"))).cast("long").as("n_words"),
          Tokenizer.bpeTokenCount(col("text"), merges).as("n_bpe"))
        .orderBy(col("doc_id"))
    },
    textBpeEncode.oracle)

  val qs: Seq[Q] = Seq(textBpeTrain, textBpeEncode, textMaxMatchVocab,
    textTokensMaxMatch, textTokensViterbi, textUnigramEmVocab,
    tokenizerFertility, tokenizerPersisted)
}
