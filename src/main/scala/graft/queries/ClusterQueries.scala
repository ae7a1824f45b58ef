package graft.queries

import graft.Tables
import graft.operators.{Clustering, Profiles}
import graft.sources.{Federation, Nexus}
import org.apache.spark.sql.functions._

/** SURVEY §2.10 — clustering over the profile warehouse built from lineitem
  * (l_orderkey=isolate, l_linenumber=locus, l_suppkey=allele).
  *
  * Each bounded-taxa query reads its own isolate slice of the warehouse
  * (`ProfileQueries.wh` with a bound), not the full one filtered: at sf0.1
  * building the full warehouse to keep 300 of 150k isolates cost
  * g3_single_linkage 2.25 s of its 2.32 s cold time (two eager jobs, 21.5 MB
  * of shuffle), and no bounded-taxa query reads the other isolates.
  */
object ClusterQueries extends QueryModule {

  private val NLoci = 7

  // Shared oracle fragment: threshold-similarity edges between profiles of
  // isolates < 300 — pairs sharing >= 5 of 7 (locus, allele) designations.
  // (DuckDB: same explode/equi-join shape the engine uses.)
  private def edgesSql(minShared: Int) =
    s"""SELECT x.l_orderkey AS src, y.l_orderkey AS dst
        FROM (SELECT l_orderkey, l_linenumber,
                     min(CAST(l_suppkey AS VARCHAR)) AS a
              FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2) x
        JOIN (SELECT l_orderkey, l_linenumber,
                     min(CAST(l_suppkey AS VARCHAR)) AS a
              FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2) y
          ON x.l_linenumber = y.l_linenumber AND x.a = y.a
             AND x.l_orderkey < y.l_orderkey
        GROUP BY 1, 2
        HAVING count(1) >= $minShared"""

  // G3: single-linkage classification groups at threshold 2 (profiles within
  // 2 mismatches linked). Oracle: transitive closure by recursive CTE,
  // component id = min reachable node — the same deterministic naming rule.
  private val g3SingleLinkage = Q(
    "g3_single_linkage",
    (s, dir) => {
      val w = ProfileQueries.wh(s, dir, Some(300))
      Clustering.singleLinkage(w, "l_orderkey", NLoci, 2)
        .orderBy(col("l_orderkey"))
    },
    Some(s"""WITH RECURSIVE
             edges AS (
               SELECT src, dst FROM (${edgesSql(5)}) e
               UNION SELECT dst, src FROM (${edgesSql(5)}) e2),
             nodes AS (SELECT DISTINCT l_orderkey AS node
                       FROM lineitem WHERE l_orderkey < 300),
             reach AS (
               SELECT node AS src, node AS dst FROM nodes
               UNION
               SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
             SELECT src AS l_orderkey, min(dst) AS group_id
             FROM reach GROUP BY src ORDER BY l_orderkey"""))

  // G2: BURST clonal complexes with grpdef = nLoci - 2 = 5: closure groups
  // + SLV degrees (pairs sharing exactly 6) + founder = most SLVs per
  // group, min id tiebreak — all replicated in the oracle.
  private val g2Burst = Q(
    "g2_burst",
    (s, dir) => {
      val w = ProfileQueries.wh(s, dir, Some(300))
      Clustering.burst(w, "l_orderkey", NLoci, grpdef = NLoci - 2)
        .select(col("l_orderkey"), col("group_id"), col("slv_count"),
          col("is_founder"))
        .orderBy(col("l_orderkey"))
    },
    Some(s"""WITH RECURSIVE
             pairs AS (
               SELECT x.l_orderkey AS src, y.l_orderkey AS dst,
                      count(1) AS shared
               FROM (SELECT l_orderkey, l_linenumber,
                            min(CAST(l_suppkey AS VARCHAR)) AS a
                     FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2) x
               JOIN (SELECT l_orderkey, l_linenumber,
                            min(CAST(l_suppkey AS VARCHAR)) AS a
                     FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2) y
                 ON x.l_linenumber = y.l_linenumber AND x.a = y.a
                    AND x.l_orderkey < y.l_orderkey
               GROUP BY 1, 2),
             edges AS (
               SELECT src, dst FROM pairs WHERE shared >= 5
               UNION SELECT dst, src FROM pairs WHERE shared >= 5),
             nodes AS (SELECT DISTINCT l_orderkey AS node
                       FROM lineitem WHERE l_orderkey < 300),
             reach AS (
               SELECT node AS src, node AS dst FROM nodes
               UNION
               SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             comp AS (SELECT src AS node, min(dst) AS group_id
                      FROM reach GROUP BY src),
             slv AS (
               SELECT node, count(1) AS n FROM (
                 SELECT src AS node FROM pairs WHERE shared = 6
                 UNION ALL SELECT dst FROM pairs WHERE shared = 6) t
               GROUP BY node)
             SELECT c.node AS l_orderkey, c.group_id,
                    coalesce(s.n, 0) AS slv_count,
                    row_number() OVER (PARTITION BY c.group_id
                      ORDER BY coalesce(s.n, 0) DESC, c.node) = 1 AS is_founder
             FROM comp c LEFT JOIN slv s ON c.node = s.node
             ORDER BY l_orderkey"""))

  // %identity over shared non-missing loci as a pure DuckDB list expression
  // (missing = "0", "N" matches anything) — IEEE double ops in the same
  // order as Clustering.identityPct so threshold compares agree bit-exactly.
  private def pctSql(a: String, b: String): String = {
    val comparable =
      s"len(list_filter(list_zip($a, $b), p -> p[1] <> '0' AND p[2] <> '0'))"
    val shared =
      s"""len(list_filter(list_zip($a, $b), p -> p[1] <> '0' AND p[2] <> '0'
          AND (p[1] = p[2] OR p[1] = 'N' OR p[2] = 'N')))"""
    s"""CASE WHEN $comparable = 0 THEN 0.0
        ELSE CAST(100 AS DOUBLE) * $shared / $comparable END"""
  }

  // Full sequential replay of the LIN assignment (lincodes.pl:177-331 with
  // the engine's fixed determinism rules: ascending-id order, nearest ties
  // to lowest id) as a DuckDB recursive CTE. The recursion carries the whole
  // state per step — `st` = assigned [{id, prof, code}], `rest` = pending —
  // as pure list values, because DuckDB can't bind correlated table refs
  // inside a recursive term's laterals. One row per step; final step = the
  // complete assignment. Cross-validated against tools/lincode_replay.py.
  // "next free integer" = max+1: values under a prefix are provably
  // contiguous from 0 (first extender is always 0-padded or a fresh min).
  private def lincodeAssignSql(where: String): String =
    s"""${lincodeStateSql}
        SELECT u.id AS l_orderkey,
               concat_ws('_', u.code[1], u.code[2], u.code[3]) AS lincode
        FROM (SELECT st FROM assign ORDER BY n DESC LIMIT 1) f,
             unnest(f.st) AS t(u)
        $where
        ORDER BY l_orderkey"""

  // The recursion alone (final state in `assign`), shared by the assignment
  // oracle and the LINvis prefix-tree oracle below.
  private def lincodeStateSql: String =
    s"""WITH RECURSIVE
        des AS (
          SELECT l_orderkey AS id, CAST(l_linenumber AS INT) AS locus,
                 min(CAST(l_suppkey AS VARCHAR)) AS a
          FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2),
        profs AS (
          SELECT id, list_transform([1, 2, 3, 4, 5, 6, 7],
                                    i -> coalesce(m[i][1], '0')) AS prof
          FROM (SELECT id, map(list(locus ORDER BY locus),
                               list(a ORDER BY locus)) AS m
                FROM des GROUP BY id)),
        ordered AS (
          SELECT list(struct_pack(id := id, prof := prof) ORDER BY id) AS p
          FROM profs),
        assign AS (
          SELECT 1 AS n,
                 [struct_pack(id := p[1].id, prof := p[1].prof,
                              code := [0, 0, 0])] AS st,
                 p[2:] AS rest
          FROM ordered
          UNION ALL
          SELECT n + 1,
                 list_append(st, struct_pack(
                   id := rest[1].id, prof := rest[1].prof, code :=
                   CASE WHEN d >= 3 THEN b.code
                        ELSE [CASE WHEN d >= 1 THEN b.code[1] ELSE v END,
                              CASE WHEN d >= 2 THEN b.code[2]
                                   WHEN d = 1 THEN v ELSE 0 END,
                              CASE WHEN d = 2 THEN v ELSE 0 END]
                   END)),
                 rest[2:]
          FROM (
            SELECT n, st, rest, b, d,
                   1 + list_max(list_transform(
                         list_filter(st, x -> x.code[1:d] = b.code[1:d]),
                         x -> x.code[d + 1])) AS v
            FROM (
              SELECT n, st, rest, b,
                     CAST(-b.np >= 30.0 AS INT) + CAST(-b.np >= 60.0 AS INT)
                     + CAST(-b.np >= 90.0 AS INT) AS d
              FROM (
                SELECT n, st, rest,
                       list_sort(list_transform(st, x -> struct_pack(
                         np := -(${pctSql("rest[1].prof", "x.prof")}),
                         id := x.id, code := x.code)))[1] AS b
                FROM assign WHERE len(rest) > 0) q1) q2) q3)"""

  // The incremental LIN assignment is a pure function of (corpus slice,
  // thresholds) and inherently sequential (SURVEY §7.4) — memoize the
  // assigned codes per (session, dir), the Profiles.cachedWarehouse
  // posture: FOUR queries consume the identical assignment (g4_lincode,
  // j5_lincode_prefix, lin_prefix_tree, s10_replicate_lincodes), so the
  // sweep pays ONE driver-side assignment loop per session instead of
  // one per execution. Ownership documented: session-lifetime, pinned
  // via Pinning.pin, dropped when their session's context stops.
  private def cachedLinCodes(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.SessionMemo(s, "cluster.lin_codes", dir + "|300|30,60,90")(
      graft.operators.Pinning.pin(
        Clustering.assignLinCodes(ProfileQueries.wh(s, dir, Some(300)),
          "l_orderkey", Seq(30.0, 60.0, 90.0))))

  // G4: LIN codes — order-dependent sequential assignment made deterministic
  // by fixing the order (ascending id); oracled by a full recursive-CTE
  // replay in DuckDB (plus the hand-computed golden in ClusteringSpec).
  private val g4Lincode = Q(
    "g4_lincode",
    (s, dir) => {
      cachedLinCodes(s, dir)
        .select(col("l_orderkey"),
          concat_ws("_", col("lincode")).as("lincode"))
        .orderBy(col("l_orderkey"))
    },
    Some(lincodeAssignSql("")))

  // Bulk-assignment distance (lincodes.pl:480-485): 100·diffs/(L −
  // missing_in_either) with missing = '0' on either side ('N' would be
  // converted to missing first; this corpus never produces one). Same
  // operation order as Clustering.refDistCol so doubles agree bit-exactly.
  private def bulkDistSql(a: String, b: String): String = {
    val diffs =
      s"""len(list_filter(list_zip($a, $b),
           p -> p[1] <> '0' AND p[2] <> '0' AND p[1] <> p[2]))"""
    val missE =
      s"len(list_filter(list_zip($a, $b), p -> p[1] = '0' OR p[2] = '0'))"
    s"""CASE WHEN len($a) - $missE = 0 THEN 100.0
        ELSE 100.0 * $diffs / (len($a) - $missE) END"""
  }

  // float32 variant — the PRIM traversal compares float distances (the
  // reference stores a float PDL matrix; the engine a float triangle)
  private def bulkDistRealSql(a: String, b: String): String =
    s"CAST((${bulkDistSql(a, b)}) AS REAL)"

  // Full replay of the PRIM-ordered bulk assignment (lincodes.pl:371-498):
  // CTE `prim` reproduces the MST traversal — start at the globally
  // closest pair (ties: lexicographically smallest position pair), then
  // repeatedly append the unordered profile minimizing (distance to the
  // ordered set, earliest ordered position achieving it, position) — and
  // CTE `assign` replays the assignment over that order with double
  // distances, earliest-assigned ties (list_position = first minimum) and
  // max+1 increments.
  private def lincodePrimSql: String = {
    def rl(r: String) =
      s"""list_transform(ord, o -> ${bulkDistRealSql("o.prof", s"$r.prof")})"""
    s"""WITH RECURSIVE
        des AS (
          SELECT l_orderkey AS id, CAST(l_linenumber AS INT) AS locus,
                 min(CAST(l_suppkey AS VARCHAR)) AS a
          FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2),
        profs AS (
          SELECT id, list_transform([1, 2, 3, 4, 5, 6, 7],
                                    i -> coalesce(m[i][1], '0')) AS prof
          FROM (SELECT id, map(list(locus ORDER BY locus),
                               list(a ORDER BY locus)) AS m
                FROM des GROUP BY id)),
        idx AS (SELECT id, prof, row_number() OVER (ORDER BY id) AS rn
                FROM profs),
        plist AS (SELECT list(struct_pack(id := id, prof := prof)
                              ORDER BY id) AS ps
                  FROM idx),
        init AS (
          SELECT x.rn AS i, y.rn AS j
          FROM idx x JOIN idx y ON x.rn < y.rn
          ORDER BY ${bulkDistRealSql("x.prof", "y.prof")}, x.rn, y.rn
          LIMIT 1),
        prim AS (
          SELECT [ps[i], ps[j]] AS ord,
                 list_filter(ps, e -> e.id <> ps[i].id
                                  AND e.id <> ps[j].id) AS rest
          FROM init, plist
          UNION ALL
          SELECT list_append(ord, struct_pack(id := nk.id, prof := nk.prof)),
                 list_filter(rest, e -> e.id <> nk.id)
          FROM (
            SELECT ord, rest,
                   list_sort(list_transform(rest, r -> struct_pack(
                     d := list_min(${rl("r")}),
                     p := list_position(${rl("r")}, list_min(${rl("r")})),
                     id := r.id, prof := r.prof)))[1] AS nk
            FROM prim WHERE len(rest) > 0) q),
        assign AS (
          SELECT 1 AS n,
                 [struct_pack(id := ord[1].id, prof := ord[1].prof,
                              code := [0, 0, 0])] AS st,
                 ord[2:] AS rest
          FROM (SELECT ord FROM prim ORDER BY len(ord) DESC LIMIT 1)
          UNION ALL
          SELECT n + 1,
                 list_append(st, struct_pack(
                   id := rest[1].id, prof := rest[1].prof, code :=
                   CASE WHEN d >= 3 THEN b.code
                        ELSE [CASE WHEN d >= 1 THEN b.code[1] ELSE v END,
                              CASE WHEN d >= 2 THEN b.code[2]
                                   WHEN d = 1 THEN v ELSE 0 END,
                              CASE WHEN d = 2 THEN v ELSE 0 END]
                   END)),
                 rest[2:]
          FROM (
            SELECT n, st, rest, b, d,
                   1 + list_max(list_transform(
                         list_filter(st, x -> x.code[1:d] = b.code[1:d]),
                         x -> x.code[d + 1])) AS v
            FROM (
              SELECT n, st, rest, b,
                     CASE WHEN 100.0 - md >= 90.0 THEN 3
                          WHEN 100.0 - md >= 60.0 THEN 2
                          WHEN 100.0 - md >= 30.0 THEN 1
                          ELSE 0 END AS d
              FROM (
                SELECT n, st, rest,
                       st[list_position(dl, list_min(dl))] AS b,
                       list_min(dl) AS md
                FROM (
                  SELECT n, st, rest,
                         list_transform(st, x ->
                           ${bulkDistSql("rest[1].prof", "x.prof")}) AS dl
                  FROM assign WHERE len(rest) > 0) q0) q1) q2) q3)
        SELECT u.id AS l_orderkey,
               concat_ws('_', u.code[1], u.code[2], u.code[3]) AS lincode
        FROM (SELECT st FROM assign ORDER BY n DESC LIMIT 1) f,
             unnest(f.st) AS t(u)
        ORDER BY l_orderkey"""
  }

  // G4 bulk mode: PRIM-ordered initial assignment (lincodes.pl:371-498) —
  // distances Spark-computed, MST traversal + max+1 assignment per the
  // reference's scan-order tie-breaks, oracled by the full CTE replay.
  private val g4LincodePrim = Q(
    "g4_lincode_prim",
    (s, dir) => {
      val w = ProfileQueries.wh(s, dir, Some(300))
      Clustering.assignLinCodesBulk(w, "l_orderkey", Seq(30.0, 60.0, 90.0))
        .select(col("l_orderkey"),
          concat_ws("_", col("lincode")).as("lincode"))
        .orderBy(col("l_orderkey"))
    },
    Some(lincodePrimSql))

  // J5: LIN code prefix join — isolates whose assigned code starts with the
  // prefix (positional element equality, IsolateQueryPage.pm:3402-3506).
  // Same replay oracle filtered to the prefix.
  private val j5LincodePrefix = Q(
    "j5_lincode_prefix",
    (s, dir) => {
      val codes = cachedLinCodes(s, dir)
      codes.filter(element_at(col("lincode"), 1) === 0)
        .select(col("l_orderkey"), concat_ws("_", col("lincode")).as("lincode"))
        .orderBy(col("l_orderkey"))
    },
    Some(lincodeAssignSql("WHERE u.code[1] = 0")))

  // LINvis hierarchy (Plugins/LINvis.pm:238-344): LIN codes rolled into a
  // prefix tree — one node per code prefix at each threshold level, node
  // value = isolates in the node's SUBTREE (the plugin's post-order
  // `_aggregate`, which equals the count of codes carrying the prefix).
  // The reference builds the tree isolate-by-isolate on one machine; here
  // it is a narrow prefix explode (3 rows per isolate) + one hash
  // aggregation on (level, prefix) — the sunburst/circle-packing JSON is a
  // driver-side fold of this FLAT node table, never of the raw isolates.
  private val linPrefixTree = Q(
    "lin_prefix_tree",
    (s, dir) => {
      val codes = cachedLinCodes(s, dir)
        .select(col("lincode"))
      codes
        .select(explode(sequence(lit(1), lit(3))).as("level"), col("lincode"))
        .select(col("level"),
          array_join(slice(col("lincode"), lit(1), col("level"))
            .cast("array<string>"), "_").as("prefix"),
          when(col("level") > 1,
            array_join(slice(col("lincode"), lit(1), col("level") - 1)
              .cast("array<string>"), "_")).as("parent"))
        .groupBy(col("level"), col("prefix"), col("parent"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("level"), col("prefix"))
    },
    Some(s"""${lincodeStateSql}
             SELECT CAST(lvl AS INTEGER) AS level,
                    array_to_string(u.code[1:lvl], '_') AS prefix,
                    CASE WHEN lvl > 1
                         THEN array_to_string(u.code[1:lvl - 1], '_')
                    END AS parent,
                    count(1) AS n
             FROM (SELECT st FROM assign ORDER BY n DESC LIMIT 1) f,
                  unnest(f.st) AS t(u), unnest([1, 2, 3]) AS l(lvl)
             GROUP BY 1, 2, 3
             ORDER BY level, prefix"""))

  // One replica path per (session, kind, corpus): republishing into it
  // keeps CacheRefresh.fullSwap's version retention bounding the disk use,
  // and the directory goes when the session's context stops.
  private def fedPath(s: org.apache.spark.sql.SparkSession, kind: String,
      dir: String): String =
    graft.SessionMemo(s, "cluster.fed_path", s"$kind|$dir")(
      graft.SessionMemo.tempPath(s, s"fed_$kind"))

  // S9: cross-database scheme-dimension replication (Datastore.pm:2058-2174)
  // — snapshot the "remote" profile dimension, publish atomically, read the
  // replica back and run the everyday local join against it (isolates ×
  // replicated scheme dim), here aggregated by missing-locus count.
  private val s9ReplicateProfiles = Q(
    "s9_replicate_profiles",
    (s, dir) => {
      val w = ProfileQueries.wh(s, dir)
      val dim = Federation.schemeDimension(w, "l_orderkey")
      val path = fedPath(s, "profiles", dir)
      // scheme dims are ~10s of MB (one row per distinct profile): a
      // handful of snapshot files, not one per shuffle partition
      Federation.replicateDimension(dim, path, numFiles = Some(8))
      val replica = Federation.readDimension(s, path)
      w.join(broadcast(replica.select(col("profile_md5"), col("missing_loci"))),
          Seq("profile_md5"))
        .groupBy(col("missing_loci"))
        .agg(count(lit(1)).as("n_isolates"))
        .orderBy(col("missing_loci"))
    },
    Some("""WITH des AS (
              SELECT l_orderkey AS id, CAST(l_linenumber AS INT) AS locus,
                     min(CAST(l_suppkey AS VARCHAR)) AS a
              FROM lineitem GROUP BY 1, 2),
            profs AS (
              SELECT id, list_transform([1, 2, 3, 4, 5, 6, 7],
                                        i -> coalesce(m[i][1], '0')) AS prof
              FROM (SELECT id, map(list(locus ORDER BY locus),
                                   list(a ORDER BY locus)) AS m
                    FROM des GROUP BY id))
            SELECT CAST(len(list_filter(prof, p -> p = '0')) AS INT)
                     AS missing_loci,
                   count(1) AS n_isolates
            FROM profs GROUP BY 1 ORDER BY 1"""))

  // S10: classification-group / LIN-code dimension replication
  // (Datastore.pm:1407-1535): snapshot the assigned LIN codes, read the
  // replica, join isolates against it and break down by top-level code.
  private val s10ReplicateLincodes = Q(
    "s10_replicate_lincodes",
    (s, dir) => {
      val w = ProfileQueries.wh(s, dir, Some(300))
      val codes = cachedLinCodes(s, dir)
      val path = fedPath(s, "lincodes", dir)
      Federation.replicateDimension(codes, path, numFiles = Some(4))
      val replica = Federation.readDimension(s, path)
      w.select(col("l_orderkey"))
        .join(broadcast(replica), Seq("l_orderkey"))
        .groupBy(element_at(col("lincode"), 1).cast("long").as("lin1"))
        .agg(count(lit(1)).as("n_profiles"))
        .orderBy(col("lin1"))
    },
    Some(s"""SELECT CAST(string_split(lincode, '_')[1] AS BIGINT) AS lin1,
                    count(1) AS n_profiles
             FROM (${lincodeAssignSql("")}) codes
             GROUP BY 1 ORDER BY 1"""))

  // G5: GrapeTree-style minimum spanning tree over profile distances.
  // Coarse alleles (suppkey mod 3, 1-based so none collide with the "0"
  // missing sentinel) give a dense weighted graph (~2.6k edges, weights
  // 2..5 at sf0.01). The (weight, src, dst) total order makes the MSF
  // unique, so the distributed Borůvka and the oracle's one-edge-at-a-time
  // Kruskal (recursive CTE with dense-position component state) agree
  // edge-for-edge.
  private val g5Mst = Q(
    "g5_mst",
    (s, dir) => {
      val fact = Tables.load(s, dir, "lineitem").filter(col("l_orderkey") < 300)
      val w = Profiles.cachedWarehouse(s"$dir/mst3", fact,
        "l_orderkey", "l_linenumber",
        (pmod(col("l_suppkey"), lit(3)) + 1).cast("string"), NLoci)
      val edges = Profiles.similarityJoin(w, "l_orderkey", 2)
        .select(col("e1").as("src"), col("e2").as("dst"),
          (lit(NLoci) - col("shared")).cast("long").as("weight"))
      Clustering.minimumSpanningForest(edges)
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"), col("weight"))
        .orderBy(col("src"), col("dst"))
    },
    Some("""WITH RECURSIVE
            des AS (
              SELECT l_orderkey AS id, CAST(l_linenumber AS INT) AS locus,
                     CAST(min(l_suppkey % 3) + 1 AS VARCHAR) AS a
              FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2),
            nodes AS (
              SELECT id, CAST(row_number() OVER (ORDER BY id) AS INT) AS pos
              FROM (SELECT DISTINCT id FROM des)),
            raw_edges AS (
              SELECT x.id AS src, y.id AS dst, 7 - count(1) AS w
              FROM des x JOIN des y
                ON x.locus = y.locus AND x.a = y.a AND x.id < y.id
              GROUP BY 1, 2 HAVING count(1) >= 2),
            edges AS (
              SELECT e.w, e.src, e.dst, ns.pos AS sp, nd.pos AS dp
              FROM raw_edges e JOIN nodes ns ON e.src = ns.id
                               JOIN nodes nd ON e.dst = nd.id),
            init AS (
              SELECT (SELECT list(pos ORDER BY pos) FROM nodes) AS comps,
                     (SELECT list(struct_pack(w := w, s := src, d := dst,
                                              sp := sp, dp := dp)
                                  ORDER BY w, src, dst) FROM edges) AS rem,
                     CAST([] AS STRUCT(w BIGINT, s BIGINT, d BIGINT,
                                       sp INT, dp INT)[]) AS acc),
            walk AS (
              SELECT comps, rem, acc, 0 AS n FROM init
              UNION ALL
              SELECT list_transform(comps,
                       c -> CASE WHEN c = gc THEN lc ELSE c END),
                     list_filter(rem,
                       e -> comps[e.sp] <> comps[e.dp] AND e <> pick),
                     list_append(acc, pick), n + 1
              FROM (
                SELECT comps, rem, acc, n, pick,
                       least(comps[pick.sp], comps[pick.dp]) AS lc,
                       greatest(comps[pick.sp], comps[pick.dp]) AS gc
                FROM (
                  SELECT comps, rem, acc, n,
                         list_filter(rem,
                           e -> comps[e.sp] <> comps[e.dp])[1] AS pick
                  FROM walk) q1
                WHERE pick IS NOT NULL) q2)
            SELECT u.s AS src, u.d AS dst, u.w AS weight
            FROM (SELECT acc FROM walk ORDER BY n DESC LIMIT 1) f,
                 unnest(f.acc) AS t(u)
            ORDER BY src, dst"""))

  // G5: Nexus distance-matrix sink roundtrip (_make_nexus_file:1497-1558,
  // the SplitsTree hand-off). Full pair list (absent similarity pairs get
  // the max distance 7) written as the lower-triangle MATRIX block, read
  // back, re-emitted as pairs; the oracle recomputes the same distances
  // straight from lineitem.
  private val g5Nexus = Q(
    "g5_nexus_roundtrip",
    (s, dir) => {
      val w = ProfileQueries.wh(s, dir, Some(150))
      val ids = w.select(col("l_orderkey"))
      val pairsAll = ids.select(col("l_orderkey").as("a"))
        .join(ids.select(col("l_orderkey").as("b")), col("a") < col("b"))
      val sim = Profiles.similarityJoin(w, "l_orderkey", 1)
        .select(col("e1").as("a"), col("e2").as("b"),
          (lit(NLoci) - col("shared")).cast("long").as("d0"))
      val pairs = pairsAll.join(sim, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("d0"), lit(NLoci.toLong)).as("dist"))
      val path = fedPath(s, "nexus", dir) + ".nex"
      Nexus.writeDistances(pairs, "a", "b", "dist", path,
        defaultDist = NLoci.toLong)
      Nexus.readDistances(s, path)
        .orderBy(col("taxon_a"), col("taxon_b"))
    },
    Some("""WITH d AS (SELECT l_orderkey, l_linenumber,
                              min(CAST(l_suppkey AS VARCHAR)) AS a
                       FROM lineitem WHERE l_orderkey < 150 GROUP BY 1, 2),
            ids AS (SELECT DISTINCT l_orderkey AS id
                    FROM lineitem WHERE l_orderkey < 150),
            sh AS (SELECT x.l_orderkey AS i1, y.l_orderkey AS i2,
                          count(1) AS shared
                   FROM d x JOIN d y
                     ON x.l_linenumber = y.l_linenumber AND x.a = y.a
                        AND x.l_orderkey < y.l_orderkey
                   WHERE x.a <> '0' -- missing-allele sentinel never matches
                   GROUP BY 1, 2)
            SELECT p.a AS taxon_a, p.b AS taxon_b,
                   7 - coalesce(sh.shared, 0) AS dist
            FROM (SELECT x.id AS a, y.id AS b
                  FROM ids x JOIN ids y ON x.id < y.id) p
            LEFT JOIN sh ON sh.i1 = p.a AND sh.i2 = p.b
            ORDER BY taxon_a, taxon_b"""))

  // G5: single-linkage dendrogram → canonical Newick over the same coarse
  // profile graph as g5_mst. The oracle rebuilds it entirely in DuckDB:
  // per-level components by recursive closure, then a second recursion over
  // levels assembling the same canonical string (children by min leaf id,
  // branch length = level - child formation level).
  private val g5Newick = Q(
    "g5_newick",
    (s, dir) => {
      val fact = Tables.load(s, dir, "lineitem").filter(col("l_orderkey") < 300)
      val w = Profiles.cachedWarehouse(s"$dir/mst3", fact,
        "l_orderkey", "l_linenumber",
        (pmod(col("l_suppkey"), lit(3)) + 1).cast("string"), NLoci)
      val edges = Profiles.similarityJoin(w, "l_orderkey", 2)
        .select(col("e1").as("src"), col("e2").as("dst"),
          (lit(NLoci) - col("shared")).cast("int").as("weight"))
      Clustering.singleLinkageNewick(edges,
          w.select(col("l_orderkey").as("node")))
        .orderBy(col("root"))
    },
    Some("""WITH RECURSIVE
            des AS (
              SELECT l_orderkey AS id, CAST(l_linenumber AS INT) AS locus,
                     CAST(min(l_suppkey % 3) + 1 AS VARCHAR) AS a
              FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2),
            nodes AS (
              SELECT id, CAST(row_number() OVER (ORDER BY id) AS INT) AS pos
              FROM (SELECT DISTINCT id FROM des)),
            raw_edges AS (
              SELECT x.id AS src, y.id AS dst, CAST(7 - count(1) AS INT) AS w
              FROM des x JOIN des y
                ON x.locus = y.locus AND x.a = y.a AND x.id < y.id
              GROUP BY 1, 2 HAVING count(1) >= 2),
            lvl_list AS (SELECT list(DISTINCT w ORDER BY w) AS lvls
                         FROM raw_edges),
            sym AS (SELECT src, dst, w FROM raw_edges
                    UNION ALL SELECT dst, src, w FROM raw_edges),
            reach AS (
              SELECT l.lv AS lv, n.id AS src, n.id AS dst
              FROM nodes n, (SELECT unnest(lvls) AS lv FROM lvl_list) l
              UNION
              SELECT r.lv, r.src, e.dst
              FROM reach r JOIN sym e ON r.dst = e.src AND e.w <= r.lv),
            comp AS (
              SELECT lv, src AS id, min(dst) AS comp FROM reach GROUP BY 1, 2),
            lvlcomps AS (
              SELECT list(cl ORDER BY lv) AS lvls2
              FROM (SELECT c.lv, list(p.pc ORDER BY p.pos) AS cl
                    FROM (SELECT c0.lv, n.pos,
                                 CAST((SELECT n2.pos FROM nodes n2
                                       WHERE n2.id = c0.comp) AS INT) AS pc
                          FROM comp c0 JOIN nodes n ON n.id = c0.id) p
                    JOIN (SELECT DISTINCT lv FROM comp) c ON c.lv = p.lv
                    GROUP BY c.lv) t),
            init AS (
              SELECT (SELECT list(struct_pack(pos := pos, formed := 0,
                                    str := CAST(id AS VARCHAR)) ORDER BY pos)
                      FROM nodes) AS state,
                     (SELECT lvls FROM lvl_list) AS lvls,
                     (SELECT lvls2 FROM lvlcomps) AS lc,
                     0 AS k),
            walk AS (
              SELECT state, lvls, lc, k FROM init
              UNION ALL
              SELECT list_transform(
                       list_sort(list_distinct(
                         list_transform(state, x -> cl[x.pos]))),
                       g -> CASE
                         WHEN len(list_filter(state, x -> cl[x.pos] = g)) = 1
                         THEN list_filter(state, x -> cl[x.pos] = g)[1]
                         ELSE struct_pack(
                           pos := list_filter(state,
                                    x -> cl[x.pos] = g)[1].pos,
                           formed := lv,
                           str := '(' || array_to_string(
                             list_transform(
                               list_filter(state, x -> cl[x.pos] = g),
                               m -> m.str || ':' ||
                                    CAST(lv - m.formed AS VARCHAR)),
                             ',') || ')')
                         END),
                     lvls, lc, k + 1
              FROM (
                SELECT state, lvls, lc, k, lvls[k + 1] AS lv, lc[k + 1] AS cl
                FROM walk WHERE k < len(lvls)) q1)
            SELECT n.id AS root, u.str || ';' AS newick
            FROM (SELECT state FROM walk ORDER BY k DESC LIMIT 1) f,
                 unnest(f.state) AS t(u) JOIN nodes n ON n.pos = u.pos
            ORDER BY root"""))

  val qs: Seq[Q] = Seq(g3SingleLinkage, g2Burst, g4Lincode, g4LincodePrim,
    j5LincodePrefix, linPrefixTree, s9ReplicateProfiles,
    s10ReplicateLincodes, g5Mst, g5Nexus, g5Newick)
}
