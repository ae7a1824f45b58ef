package graft.queries

import graft.Tables
import graft.functions.{AlleleId, Geo}
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 singletons: F9 geography predicates, O5 dictionary
  * sort, A10 publication breakdown, composite display fields
  * (Datastore.pm:261-360).
  */
object MiscQueries extends QueryModule {

  // F9: geography point predicate — point synthesized deterministically from
  // corpus columns (the corpus has no native geo column), then filtered via
  // ST_X/ST_Y struct access.
  private val f9Geo = Q(
    "f9_geo_point",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .withColumn("gp", Geo.point(
          pmod(col("c_acctbal"), lit(180.0)) - 90.0,
          pmod(col("c_custkey") * 7, lit(360)) - 180.0))
      c.filter(Geo.stY(col("gp")) > 60.0 && Geo.stX(col("gp")) < 0.0)
        .select(col("c_custkey"),
          round(Geo.stY(col("gp")), 4).as("lat"),
          round(Geo.stX(col("gp")), 4).as("lon"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
                   round((c_acctbal - 180.0 * floor(c_acctbal / 180.0)) - 90.0, 4) AS lat,
                   round(((c_custkey * 7) % 360 + 360) % 360 - 180.0, 4) AS lon
            FROM customer
            WHERE (c_acctbal - 180.0 * floor(c_acctbal / 180.0)) - 90.0 > 60.0
              AND ((c_custkey * 7) % 360 + 360) % 360 - 180.0 < 0.0
            ORDER BY c_custkey"""))

  // Geo distance + dashboard map buckets: haversine to a fixed origin and
  // grid-cell aggregation (A9 map widget shape).
  private val geoDistance = Q(
    "geo_distance_buckets",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .withColumn("gp", Geo.point(
          pmod(col("c_acctbal"), lit(180.0)) - 90.0,
          pmod(col("c_custkey") * 7, lit(360)) - 180.0))
        .withColumn("origin", Geo.point(lit(51.75), lit(-1.26))) // Oxford
      c.withColumn("km", Geo.haversineKm(col("gp"), col("origin")))
        .withColumn("cell", Geo.gridCell(col("gp"), 30.0))
        .groupBy(col("cell.cell_lat").as("cell_lat"),
          col("cell.cell_lon").as("cell_lon"))
        // km values are arbitrary doubles: exact DECIMAL sum + one
        // division keeps the mean independent of partition order
        .agg(count(lit(1)).as("n"),
          round(sum(col("km").cast("decimal(38,18)")).cast("double")
            / count(lit(1)), 2).as("avg_km"))
        .orderBy(col("cell_lat"), col("cell_lon"))
    },
    Some("""WITH pts AS (
              SELECT (c_acctbal - 180.0 * floor(c_acctbal / 180.0)) - 90.0 AS lat,
                     ((c_custkey * 7) % 360 + 360) % 360 - 180.0 AS lon
              FROM customer),
            d AS (
              SELECT lat, lon,
                     2 * 6371.0088 * asin(sqrt(
                       pow(sin(radians(51.75 - lat) / 2), 2) +
                       cos(radians(lat)) * cos(radians(51.75)) *
                       pow(sin(radians(-1.26 - lon) / 2), 2))) AS km
              FROM pts)
            SELECT CAST(floor(lat / 30.0) AS INT) AS cell_lat,
                   CAST(floor(lon / 30.0) AS INT) AS cell_lon,
                   count(1) AS n,
                   round(CAST(sum(CAST(km AS DECIMAL(38,18))) AS DOUBLE)
                         / count(*), 2) AS avg_km
            FROM d GROUP BY 1, 2 ORDER BY 1, 2"""))

  // Spatial distance join (the "isolates within D km of a site" shape):
  // lat-band bucketed candidates + exact haversine refine — never the full
  // cross product. Oracle is the brute-force cross join at this SF.
  private val geoWithinJoin = Q(
    "geo_within_join",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .withColumn("cp", Geo.point(
          pmod(col("c_acctbal"), lit(180.0)) - 90.0,
          pmod(col("c_custkey") * 7, lit(360)) - 180.0))
        .select(col("c_custkey"), col("cp"))
      val sup = Tables.load(s, dir, "supplier")
        .withColumn("sp", Geo.point(
          pmod(col("s_acctbal"), lit(180.0)) - 90.0,
          pmod(col("s_suppkey") * 11, lit(360)) - 180.0))
        .select(col("s_suppkey"), col("sp"))
      Geo.withinDistanceJoin(c, sup, "cp", "sp", 500.0)
        .select(col("c_custkey"), col("s_suppkey"),
          round(col("km"), 4).as("km"))
        .orderBy(col("c_custkey"), col("s_suppkey"))
    },
    Some("""WITH c AS (SELECT c_custkey,
                   (c_acctbal - 180.0 * floor(c_acctbal / 180.0)) - 90.0 AS lat,
                   ((c_custkey * 7) % 360 + 360) % 360 - 180.0 AS lon
                 FROM customer),
            s AS (SELECT s_suppkey,
                   (s_acctbal - 180.0 * floor(s_acctbal / 180.0)) - 90.0 AS lat,
                   ((s_suppkey * 11) % 360 + 360) % 360 - 180.0 AS lon
                 FROM supplier),
            p AS (SELECT c_custkey, s_suppkey,
                         2 * 6371.0088 * asin(sqrt(
                           pow(sin(radians(s.lat - c.lat) / 2), 2) +
                           cos(radians(c.lat)) * cos(radians(s.lat)) *
                           pow(sin(radians(s.lon - c.lon) / 2), 2))) AS km
                  FROM c, s)
            SELECT c_custkey, s_suppkey, round(km, 4) AS km
            FROM p WHERE km <= 500.0
            ORDER BY c_custkey, s_suppkey"""))

  // O5: dictionary (case-insensitive, digit-aware) sort — the reference's
  // natural sort (Utils.pm:1017-1039) re-expressed as a computed sort key;
  // numeric-when-numeric uses the AlleleId sort key rule.
  private val o5DictSort = Q(
    "o5_dict_sort",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      c.select(col("c_custkey"), col("c_name"))
        .orderBy(lower(col("c_name")), AlleleId.sortKey(col("c_name")),
          col("c_custkey"))
        .limit(100)
    },
    Some("""SELECT c_custkey, c_name FROM customer
            ORDER BY lower(c_name),
                     CASE WHEN regexp_matches(c_name, '^[0-9]+$')
                          THEN lpad(c_name, 10, '0') ELSE c_name END,
                     c_custkey
            LIMIT 100"""))

  // A10: publication breakdown — citations ranked by linked-record counts
  // (PublicationBreakdown.pm): nation dim plays the citation table.
  private val a10PubBreakdown = Q(
    "a10_pub_breakdown",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name").as("citation"))
        .agg(count(lit(1)).as("n_records"),
          countDistinct(col("o_custkey")).as("n_entities"))
        .orderBy(col("n_records").desc, col("citation"))
    },
    Some("""SELECT n_name AS citation, count(1) AS n_records,
                   count(DISTINCT o_custkey) AS n_entities
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1 ORDER BY n_records DESC, citation"""))

  // Composite display fields (Datastore.pm:261-360): template of provenance
  // parts + regex transforms evaluated per row — scalar expression land.
  private val compositeField = Q(
    "composite_field",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      c.select(col("c_custkey"),
          concat(
            regexp_replace(col("c_name"), "^Customer#", ""), lit(" ["),
            lower(col("c_mktsegment")), lit("/"),
            col("c_nationkey").cast("string"), lit("]")).as("display"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey,
                   regexp_replace(c_name, '^Customer#', '') || ' [' ||
                   lower(c_mktsegment) || '/' ||
                   CAST(c_nationkey AS VARCHAR) || ']' AS display
            FROM customer ORDER BY c_custkey"""))

  // JSON shredding (analysis_results_cache): events.props flattened to the
  // long (entity, json_path, value) cache the F10 predicates query.
  private val jsonShred = Q(
    "json_shred_cache",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
      graft.operators.JsonShred.flatten(e, "event_id", "props")
        .orderBy(col("event_id"), col("json_path"))
    },
    Some("""SELECT event_id, 'k' AS json_path,
                   json_extract_string(props, '$.k') AS value
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
            ORDER BY event_id, json_path"""))

  // §4.1 incremental cache refresh: a stale per-entity cache (built from
  // pre-cutoff rows only) MERGE-upserted with recomputed rows for the
  // entities that changed since the cutoff must equal the full rebuild —
  // the reference's trigger-maintained cache invariant
  // (sql/isolatedb.sql:1439-1588), proven against the full-rebuild oracle.
  // The stale cache is a PRE-EXISTING artifact in the scenario under test
  // (the reference's cache table exists on disk before the refresh runs),
  // so it is built once per (session, corpus) and reused — the measured
  // work is the incremental path itself: change detection, recompute of
  // changed entities, MERGE.
  private val staleCutoff = "1995-01-01"

  private def partsAgg(d: org.apache.spark.sql.DataFrame) =
    d.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("l_quantity")).cast("long").as("total_qty"))

  // stale cache: computed before the post-cutoff rows arrived
  private[graft] def staleCache(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.SessionMemo.cached(s, "misc.stale_cache", dir)(partsAgg(
      Tables.load(s, dir, "lineitem").filter(col("l_shipdate") < staleCutoff)))

  private val cacheIncremental = Q(
    "cache_incremental",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val stale = staleCache(s, dir)
      // changed entities: any row at/after the cutoff → recompute fully.
      // No .distinct(): the left-semi join dedups by construction, and
      // dropping it saves a full shuffle+aggregate over the change set.
      val changedIds = li.filter(col("l_shipdate") >= staleCutoff)
        .select(col("l_orderkey"))
      val updates = partsAgg(li.join(changedIds, Seq("l_orderkey"), "left_semi"))
      graft.operators.CacheRefresh.upsert(stale, updates, "l_orderkey")
        .orderBy(col("l_orderkey"))
    },
    // oracle = the full rebuild: MERGE(stale, recomputed-changed) ≡ truth
    Some("""SELECT l_orderkey, count(1) AS n_parts,
                   CAST(sum(l_quantity) AS BIGINT) AS total_qty
            FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""))

  // §4.1 daily / daily_replace cache refresh — the reference's two
  // datestamp-gated modes (sql/isolatedb.sql:1461-1473,
  // update_scheme_caches.pl:145-146), completing the four-mode policy
  // matrix (full = the oracle itself, incremental = cache_incremental).
  // Scenario: "today" = the corpus's latest order date; the stale cache
  // holds every pre-today row verbatim plus the EVEN-keyed half of
  // today's rows with outdated values (yesterday's snapshot of records
  // since updated). `daily` must append only the missing odd-keyed
  // today rows and leave the stale even-keyed values in place; `daily_
  // replace` must correct them all. Both policies emitted side by side
  // under a policy column; the oracle replays both set algebras.
  private val cacheDaily = Q(
    "cache_daily",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val v = o.select(col("o_orderkey").as("id"),
        col("o_orderdate").cast("string").as("datestamp"),
        round(col("o_totalprice")).cast("long").as("val"))
      // the refresh day: a 1-row dimension collect (driver traffic is one
      // date string, the k-rows-per-round posture)
      val today = v.agg(max(col("datestamp"))).head.getString(0)
      val stale = v.filter(col("datestamp") < today)
        .unionByName(v
          .filter(col("datestamp") === today && col("id") % 2 === 0)
          .withColumn("val", col("val") - 1000L))
      val daily = graft.operators.CacheRefresh
        .dailyAdd(stale, v, "id", "datestamp", lit(today))
      val replaced = graft.operators.CacheRefresh
        .dailyReplace(stale, v, "id", "datestamp", lit(today))
      daily.withColumn("policy", lit("daily"))
        .unionByName(replaced.withColumn("policy", lit("daily_replace")))
        .select(col("policy"), col("id"), col("datestamp"), col("val"))
        .orderBy(col("policy"), col("id"))
    },
    Some("""WITH v AS (
              SELECT o_orderkey AS id,
                     CAST(o_orderdate AS VARCHAR) AS datestamp,
                     CAST(round(o_totalprice) AS BIGINT) AS val
              FROM orders),
            t AS (SELECT max(datestamp) AS today FROM v),
            stale AS (
              SELECT id, datestamp, val FROM v, t WHERE datestamp < today
              UNION ALL
              SELECT id, datestamp, val - 1000 FROM v, t
              WHERE datestamp = today AND id % 2 = 0),
            daily AS (
              SELECT id, datestamp, val FROM stale
              UNION ALL
              SELECT v.id, v.datestamp, v.val FROM v, t
              WHERE v.datestamp = today
                AND v.id NOT IN (SELECT id FROM stale)),
            repl AS (
              SELECT s.id, s.datestamp, s.val FROM stale s
              WHERE s.id NOT IN (SELECT v.id FROM v, t
                                 WHERE v.datestamp = today)
              UNION ALL
              SELECT v.id, v.datestamp, v.val FROM v, t
              WHERE v.datestamp = today)
            SELECT 'daily' AS policy, id, datestamp, val FROM daily
            UNION ALL
            SELECT 'daily_replace' AS policy, id, datestamp, val FROM repl
            ORDER BY policy, id"""))

  // §4.1 completion_metrics refresh — the fifth reference mode
  // (update_scheme_caches.pl:58,147, Offline/UpdateSchemeCaches.pm:97-130,
  // Datastore.pm create_temp_scheme_status_table:2188): rebuild ONLY the
  // per-entity completion-status cache (id, locus_count) while the field
  // caches are left untouched. The scenario proves the mode's isolation:
  // a stale FIELD cache (missing the post-cutoff entities) rides along
  // unmodified while the completion metric recomputes fresh — output is
  // the fresh metric joined with a flag for whether the entity's field
  // cache row is still the stale one.
  private val cacheCompletionMetrics = Q(
    "cache_completion_metrics",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val cutoff = "1995-01-01"
      // field cache as of the cutoff (NOT refreshed by this mode)
      val staleField = li.filter(col("l_shipdate") < cutoff)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_parts"))
      // completion_metrics = full recompute of the status metric alone
      val completion = li.groupBy(col("l_orderkey"))
        .agg(countDistinct(col("l_linenumber")).as("locus_count"))
      completion.join(staleField, Seq("l_orderkey"), "left")
        .select(col("l_orderkey"), col("locus_count"),
          (col("locus_count") === 7).as("complete"),
          col("n_parts").isNotNull.as("in_field_cache"))
        .orderBy(col("l_orderkey"))
    },
    Some("""WITH sf AS (
              SELECT l_orderkey, count(1) AS n_parts FROM lineitem
              WHERE l_shipdate < DATE '1995-01-01' GROUP BY l_orderkey),
            cm AS (
              SELECT l_orderkey,
                     count(DISTINCT l_linenumber) AS locus_count
              FROM lineitem GROUP BY l_orderkey)
            SELECT cm.l_orderkey, cm.locus_count,
                   cm.locus_count = 7 AS complete,
                   sf.l_orderkey IS NOT NULL AS in_field_cache
            FROM cm LEFT JOIN sf ON cm.l_orderkey = sf.l_orderkey
            ORDER BY cm.l_orderkey"""))

  // Skew-mitigation salted join: the hot-key-proof join must return
  // EXACTLY the plain equi-join's rows — proven against the plain-join
  // oracle. The fact (lineitem) side salts on a stable row fingerprint;
  // the supplier dimension explodes once per salt value.
  private val skewSaltedJoin = Q(
    "skew_salted_join",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(li, sup, "l_suppkey", factor = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_orderkey")).as("key_sum"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey, count(1) AS n_lines,
                   CAST(sum(l_orderkey) AS BIGINT) AS key_sum
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey ORDER BY s_nationkey"""))

  // Gap-based sessionization over the event stream — the standard
  // large-scale clickstream/usage operator (the reference's dashboards
  // aggregate raw events only; sessions are the 100 TB-pipeline view).
  // 30-minute inactivity gap. All windows partition by user — millions of
  // small partitions, never a global sort; timestamp arithmetic runs on
  // integer epoch-micros so both engines share the exact same values
  // (events.parquet is TIMESTAMP(NANOS); `div 1000` floor-truncation on
  // both sides, see Tables.load).
  private val eventSessionize = Q(
    "event_sessionize",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val prev = lag(col("us"), 1).over(ord)
      val flagged = ev.withColumn("flag",
        when(prev.isNull || col("us") - prev > 1800000000L, 1L)
          .otherwise(0L))
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      flagged.withColumn("session_id", sum(col("flag")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
              FROM events),
            f AS (
              SELECT user_id, event_id, us,
                     CASE WHEN lag(us) OVER w IS NULL
                            OR us - lag(us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS flag
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sess AS (
              SELECT user_id, us,
                     CAST(sum(flag) OVER (PARTITION BY user_id
                       ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS session_id
              FROM f)
            SELECT user_id, session_id, count(1) AS n_events,
                   min(us) AS start_us, max(us) AS end_us,
                   max(us) - min(us) AS duration_us
            FROM sess GROUP BY user_id, session_id
            ORDER BY user_id, session_id"""))

  // Ordered funnel analysis (view → click → purchase): each step's first
  // hit must come strictly AFTER the previous step's — the sequential-min
  // state machine, expressed as three stepwise conditional aggregations,
  // each map-side combinable on user_id. The per-user step dims carry one
  // row per user: NO broadcast hint — AQE broadcasts them at dashboard
  // scale, and at 10^9-user scale the join correctly degrades to a
  // user-keyed shuffle instead of OOMing the driver. All timestamps are
  // integer epoch-micros (see event_sessionize).
  private val eventFunnel = Q(
    "event_funnel",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val users = ev.select(col("user_id")).distinct()
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      users.join(s1, Seq("user_id"), "left")
        .join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .withColumn("stage",
          (col("t1").isNotNull.cast("long") + col("t2").isNotNull.cast("long")
            + col("t3").isNotNull.cast("long")))
        .orderBy(col("user_id"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
              FROM events),
            u AS (SELECT DISTINCT user_id FROM e),
            s1 AS (SELECT user_id, min(us) AS t1 FROM e
                   WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(us) AS t2
                   FROM e JOIN s1 USING (user_id)
                   WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(us) AS t3
                   FROM e JOIN s2 USING (user_id)
                   WHERE event_type = 'purchase' AND us > t2
                   GROUP BY e.user_id)
            SELECT u.user_id, t1, t2, t3,
                   CAST((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
                        + (t3 IS NOT NULL)::INT AS BIGINT) AS stage
            FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
                   LEFT JOIN s3 USING (user_id)
            ORDER BY user_id"""))

  // Cohort retention matrix: users bucketed by first-active epoch-day,
  // counted distinct at each later day offset. Day indexes are integer
  // `us div 86_400_000_000` — no date-type formatting crosses engines.
  // One cohort dim (per-user min day; unhinted — AQE broadcasts it while
  // it fits, shuffles user-keyed beyond that) + one (cohort, offset)
  // aggregation; the fact shuffles once, map-side pre-reduced.
  private val eventRetention = Q(
    "event_retention",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    Some("""WITH e AS (
              SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS day
              FROM events),
            c AS (SELECT user_id, min(day) AS cohort_day
                  FROM e GROUP BY user_id)
            SELECT cohort_day, day - cohort_day AS day_offset,
                   count(DISTINCT e.user_id) AS n_users
            FROM e JOIN c USING (user_id)
            GROUP BY cohort_day, day_offset
            ORDER BY cohort_day, day_offset"""))

  // Z-order clustering cells: the Morton key over the quantized synthetic
  // geo point (integer longitude from custkey, floor'd latitude band from
  // acctbal — same derivations as f9), aggregated per cell. Sorting by
  // this key before a write co-locates spatial neighbors for min/max file
  // pruning; here the key + cell rollup are the checked surface. Pure
  // integer bit-interleave on both engines.
  private val geoZorder = Q(
    "geo_zorder_cells",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val qx = pmod(col("c_custkey") * 7, lit(360)).cast("long")
      val qy = floor(pmod(col("c_acctbal"), lit(180.0))).cast("long")
      c.select(Geo.zOrderKey(qx, qy, 9).as("z"))
        .groupBy(col("z")).agg(count(lit(1)).as("n"))
        .orderBy(col("z"))
    },
    Some("""WITH q AS (
              SELECT ((c_custkey * 7) % 360 + 360) % 360 AS qx,
                     CAST(floor(c_acctbal - 180.0 * floor(c_acctbal / 180.0))
                          AS BIGINT) AS qy
              FROM customer),
            zv AS (
              SELECT CAST(list_sum(list_transform(range(0, 9), b ->
                       (((qx >> b) & 1) << (2 * b))
                       + (((qy >> b) & 1) << (2 * b + 1)))) AS BIGINT) AS z
              FROM q)
            SELECT z, count(1) AS n FROM zv GROUP BY z ORDER BY z"""))

  // First-order Markov transition matrix over per-user event sequences —
  // the "what happens next" companion to sessionize/funnel/retention
  // (next-action prediction features, anomalous-flow detection). One
  // user-partitioned lead() window pairs consecutive events (no
  // self-join on timestamps), then two map-side-combinable aggregations;
  // the per-source totals meet the pair counts in a tiny broadcast join.
  // Probability is one double division rounded on both sides.
  private val eventTransitions = Q(
    "event_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val pairs = ev
        .withColumn("dst", lead(col("event_type"), 1).over(ord))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("n_pairs"))
      val totals = pairs.groupBy(col("src"))
        .agg(sum(col("n_pairs")).as("__tot"))
      pairs.join(broadcast(totals), "src")
        .select(col("src"), col("dst"), col("n_pairs"),
          round(col("n_pairs").cast("double") / col("__tot").cast("double"),
            4).as("p"))
        .orderBy(col("src"), col("dst"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, event_type,
                     epoch_ns(ts) // 1000 AS us
              FROM events),
            pr AS (
              SELECT event_type AS src,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY us, event_id) AS dst
              FROM e),
            c AS (SELECT src, dst, CAST(count(1) AS BIGINT) AS n_pairs
                  FROM pr WHERE dst IS NOT NULL GROUP BY src, dst),
            t AS (SELECT src, CAST(sum(n_pairs) AS BIGINT) AS tot
                  FROM c GROUP BY src)
            SELECT c.src, c.dst, c.n_pairs,
                   round(CAST(c.n_pairs AS DOUBLE) / CAST(t.tot AS DOUBLE), 4)
                     AS p
            FROM c JOIN t USING (src)
            ORDER BY src, dst"""))

  // Temporal train/eval split with a leakage audit: the first 80% of
  // events by (ts, event_id) order train, the rest evaluate — and the
  // report counts users straddling the cutoff (the entities a user-keyed
  // split would have kept whole; the split_group posture's missing
  // temporal half). Exact rank cutoff from the two-phase Numbering shape
  // (one range shuffle, never a single-partition window); epoch-micros
  // integers everywhere so the cutoff is engine-exact.
  private val splitTemporal = Q(
    "split_temporal",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val ranked = graft.operators.Numbering.runningBySort(
        ev, Seq(col("us"), col("event_id")), lit(1L), "i")
      val n = ranked.agg(count(lit(1)).as("__n"))
      val tagged = ranked.crossJoin(broadcast(n))
        .withColumn("split",
          when(col("i") * 10L <= col("__n") * 8L, lit("train"))
            .otherwise(lit("eval")))
      val shared = tagged.groupBy(col("user_id"))
        .agg(countDistinct(col("split")).as("__ns"))
        .agg(sum(when(col("__ns") === 2L, 1L).otherwise(0L)).as("__shared"))
      tagged.groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("us")).as("min_us"), max(col("us")).as("max_us"))
        .crossJoin(broadcast(shared))
        .select(col("split"), col("n_events"), col("n_users"),
          col("min_us"), col("max_us"),
          col("__shared").as("n_straddling_users"))
        .orderBy(col("split"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
              FROM events),
            r AS (SELECT *, row_number() OVER (ORDER BY us, event_id) AS i,
                         count(1) OVER () AS n
                  FROM e),
            t AS (SELECT user_id, us,
                         CASE WHEN i * 10 <= n * 8 THEN 'train'
                              ELSE 'eval' END AS split
                  FROM r),
            sh AS (SELECT CAST(sum(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_straddling_users
                   FROM (SELECT user_id, count(DISTINCT split) AS ns
                         FROM t GROUP BY user_id) u)
            SELECT split, count(1) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(min(us) AS BIGINT) AS min_us,
                   CAST(max(us) AS BIGINT) AS max_us,
                   sh.n_straddling_users
            FROM t, sh
            GROUP BY split, sh.n_straddling_users
            ORDER BY split"""))

  // Type-2 slowly-changing-dimension compaction: each user's event_type
  // stream collapses to validity intervals [valid_from, valid_to) — a
  // new interval opens exactly where the tracked attribute CHANGES
  // (lag-compare), the interval id is the running change count, and
  // valid_to is the next interval's start (lead; NULL = current row, the
  // open interval). The standard warehouse history-build from a change
  // stream, all windows partitioned by user (millions of small
  // partitions, never a global sort), integer epoch-micros throughout.
  private val warehouseScd2 = Q(
    "warehouse_scd2",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val prev = lag(col("event_type"), 1).over(ord)
      val flagged = ev.withColumn("__chg",
        when(prev.isNull || col("event_type") =!= prev, 1L).otherwise(0L))
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val intervals = flagged
        .withColumn("seq", sum(col("__chg")).over(cum))
        .groupBy(col("user_id"), col("seq"))
        .agg(min(col("event_type")).as("event_type"), // constant per seq
          count(lit(1)).as("n_events"),
          min(col("us")).as("valid_from_us"))
      intervals
        .withColumn("valid_to_us",
          lead(col("valid_from_us"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("seq"))))
        .select(col("user_id"), col("seq"), col("event_type"),
          col("n_events"), col("valid_from_us"), col("valid_to_us"))
        .orderBy(col("user_id"), col("seq"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
              FROM events),
            f AS (
              SELECT user_id, event_id, event_type, us,
                     CASE WHEN lag(event_type) OVER w IS NULL
                            OR event_type != lag(event_type) OVER w
                          THEN 1 ELSE 0 END AS chg
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            seqd AS (
              SELECT user_id, event_type, us,
                     CAST(sum(chg) OVER (PARTITION BY user_id
                       ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS seq
              FROM f),
            iv AS (
              SELECT user_id, seq, min(event_type) AS event_type,
                     count(1) AS n_events, min(us) AS valid_from_us
              FROM seqd GROUP BY user_id, seq)
            SELECT user_id, seq, event_type,
                   CAST(n_events AS BIGINT) AS n_events,
                   valid_from_us,
                   lead(valid_from_us) OVER (PARTITION BY user_id
                     ORDER BY seq) AS valid_to_us
            FROM iv ORDER BY user_id, seq"""))

  // AS-OF join via the merge-scan form (the J13 variant SURVEY marked
  // n/a for the reference — implemented here for the pipeline side):
  // each purchase matches the LATEST preceding view of the same user.
  // Instead of a per-row range join (candidate explosion at 100 TB),
  // both streams union into ONE user-partitioned ordered scan and a
  // last-non-null window carries the most recent view forward — one
  // shuffle on user_id, state = one value per scan position. Ties at
  // the same timestamp break by event_id (a view with the smaller id
  // counts as preceding). Integer epoch-micros; NULL = no prior view.
  private val joinAsof = Q(
    "join_asof",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .filter(col("event_type").isin("view", "purchase"))
      val tagged = ev
        .withColumn("__vid",
          when(col("event_type") === "view", col("event_id")))
        .withColumn("__vus",
          when(col("event_type") === "view", col("us")))
      val scan = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("asof_view_id", last(col("__vid"), ignoreNulls = true).over(scan))
        .withColumn("asof_view_us", last(col("__vus"), ignoreNulls = true).over(scan))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("purchase_us"), col("asof_view_id"),
          col("asof_view_us"),
          (col("us") - col("asof_view_us")).as("lag_us"))
        .orderBy(col("purchase_id"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
              FROM events
              WHERE event_type IN ('view', 'purchase')),
            t AS (
              SELECT user_id, event_id, event_type, us,
                     CASE WHEN event_type = 'view' THEN event_id END AS vid,
                     CASE WHEN event_type = 'view' THEN us END AS vus
              FROM e),
            sc AS (
              SELECT user_id, event_id, event_type, us,
                     last_value(vid IGNORE NULLS) OVER w AS asof_view_id,
                     last_value(vus IGNORE NULLS) OVER w AS asof_view_us
              FROM t
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                ROWS UNBOUNDED PRECEDING))
            SELECT user_id, event_id AS purchase_id, us AS purchase_us,
                   asof_view_id, asof_view_us,
                   us - asof_view_us AS lag_us
            FROM sc WHERE event_type = 'purchase'
            ORDER BY purchase_id"""))

  val qs: Seq[Q] = Seq(f9Geo, geoDistance, geoWithinJoin, o5DictSort, a10PubBreakdown,
    compositeField, jsonShred, cacheIncremental, cacheDaily,
    cacheCompletionMetrics, skewSaltedJoin,
    eventSessionize, eventFunnel, eventRetention, geoZorder,
    eventTransitions, splitTemporal, warehouseScd2, joinAsof)
}
