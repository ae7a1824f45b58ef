package graft.operators

import graft.functions.AlleleId
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The scheme/profile engine (SURVEY §2.3 J6-J8, §7.1 step 3).
  *
  * The reference's central analytic structure is the materialized scheme
  * warehouse `mv_scheme_<id>`: one row per profile with the allelic profile
  * as a text array plus an md5 of the array for exact lookup
  * (sql/seqdef.sql:1155-1253). We re-express it as a derived DataFrame:
  * long designation fact (entity, locus, allele) → wide array column.
  *
  * Scale: the warehouse build is ONE hash aggregation over the designation
  * fact (map-side combinable); profile lookup is an equi join on `md5` —
  * broadcastable when the profile dimension is small (it is: #STs ≪ #isolates),
  * and a plain shuffle hash join otherwise. Similarity search (J8) never
  * materializes the O(n²) pair space: it explodes to (locus, allele) and
  * equi-joins, so only genuinely-sharing pairs are generated.
  */
object Profiles {

  /** Session-scoped materialized warehouses, keyed by (session, source id):
    * the reference persists `mv_scheme_<id>` once and every query reads it
    * (sql/seqdef.sql:1155-1253); the Spark equivalent is a cached DataFrame
    * shared by every profile/cluster query of the session instead of each
    * rebuilding the same two-shuffle aggregation. One build per
    * (session, key).
    */
  def cachedWarehouse(
      key: String,
      fact: DataFrame,
      entity: String,
      locus: String,
      allele: Column,
      nLoci: Int): DataFrame =
    // range-partitioned + sorted by the entity key before caching: the
    // columnar cache keeps min/max stats per batch, so keyed readers
    // (j7's id slice, batch lookups, pagination) decompress ONE batch
    // instead of every partition — a hash-partitioned cache spreads every
    // key range over all partitions and defeats batch pruning. Same move
    // as clustering a materialized view on its primary key; one extra
    // exchange at build time, once per session.
    graft.SessionMemo.cached(fact.sparkSession, "profiles.warehouse", key)(
      warehouse(fact, entity, locus, allele, nLoci)
        .repartitionByRange(col(entity))
        .sortWithinPartitions(col(entity)))

  /** The (profile_md5 → st) numbering dimension over a warehouse —
    * memoized BESIDE the warehouse it derives from: ST numbering is a
    * definition-order property of the scheme, not of any one query (the
    * reference materializes it in the mv_scheme tables and every lookup
    * reads it), yet rebuilt per query it costs a full defs aggregation
    * plus the two-phase numbering each time. One build per (session, key);
    * output (profile_md5, first_iso, st).
    */
  def cachedStDim(key: String, warehouse: DataFrame,
      entity: String): DataFrame =
    graft.SessionMemo.cached(warehouse.sparkSession, "profiles.st_dim", key) {
      val defs = warehouse.groupBy(col("profile_md5"))
        .agg(min(col(entity)).as("first_iso"))
      Numbering.numberBySort(defs, "first_iso", "st")
    }

  /** Build the profile warehouse from a long designation fact.
    *
    * Loci are integer positions 1..nLoci (the reference keeps a
    * locus→array-position map in scheme_warehouse_indices,
    * sql/seqdef.sql:1122-1149). Missing loci get AlleleId.Missing ("0").
    * Multiple designations per (entity, locus) — allowed by the reference
    * (sql/isolatedb.sql:952-988) — are resolved to the minimum allele id,
    * deterministic regardless of partitioning.
    *
    * Output: (entityCol, profile ARRAY<STRING>, profile_md5 STRING).
    */
  def warehouse(
      fact: DataFrame,
      entity: String,
      locus: String,
      allele: Column,
      nLoci: Int): DataFrame = {
    val w =
      if (nLoci <= 128) {
        // One codegen'd hash aggregate, one shuffle: min(when(locus = i))
        // per array position, partials merged map-side. No interpreted
        // higher-order functions, no second shuffle — ~3x faster than the
        // collect_list/map form and the shape that scales: the shuffle
        // carries one pre-reduced row per entity, never the raw fact.
        val locusCol = col(locus).cast("int")
        val aggs = (1 to nLoci).map(i =>
          min(when(locusCol === i, allele.cast("string"))).as(s"__p$i"))
        fact.groupBy(col(entity))
          .agg(aggs.head, aggs.tail: _*)
          .select(
            col(entity),
            array((1 to nLoci).map(i =>
              coalesce(col(s"__p$i"), lit(AlleleId.Missing))): _*).as("profile"))
      } else {
        // cgMLST-wide schemes (thousands of loci): a thousands-wide agg
        // stresses codegen, so fall back to collect_list → map lookup.
        val byLocus = fact
          .groupBy(col(entity), col(locus).cast("int").as("__locus"))
          .agg(min(allele.cast("string")).as("__allele"))
        byLocus
          .groupBy(col(entity))
          .agg(map_from_entries(collect_list(struct(col("__locus"), col("__allele"))))
            .as("__m"))
          .select(
            col(entity),
            transform(sequence(lit(1), lit(nLoci)),
              i => coalesce(element_at(col("__m"), i), lit(AlleleId.Missing)))
              .as("profile"))
      }
    w.withColumn("profile_md5", md5(array_join(col("profile"), ",")))
  }

  /** J7 — profile_diff (sql/seqdef.sql:1380-1384): count of mismatching
    * loci between two profile arrays, ignoring positions where either side
    * is the arbitrary sentinel "N".
    */
  def profileDiff(p1: Column, p2: Column): Column =
    size(filter(
      zip_with(p1, p2, (a, b) =>
        a =!= b && a =!= lit(AlleleId.Arbitrary) && b =!= lit(AlleleId.Arbitrary)),
      x => x))

  /** Shared-allele count between two profiles (N matches anything) —
    * the quantity `matching_profiles` thresholds on (sql/seqdef.sql:1386-1409).
    */
  def sharedCount(p1: Column, p2: Column): Column =
    size(filter(zip_with(p1, p2, (a, b) => AlleleId.matches(a, b)), x => x))

  /** J8 — matching_profiles: all profiles sharing at least
    * (nLoci - threshold) alleles with the target profile. Implemented as a
    * broadcast of the (tiny) target against the warehouse — linear scan,
    * no pair explosion; for profile-vs-ALL-profiles the explode/equi-join
    * form in `similarityJoin` below is the scale path.
    */
  def matchingProfiles(
      warehouse: DataFrame,
      target: Seq[String],
      nLoci: Int,
      threshold: Int): DataFrame = {
    val t = typedLit(target)
    warehouse
      .withColumn("shared", sharedCount(col("profile"), t))
      .filter(col("shared") >= nLoci - threshold)
  }

  /** J8 at scale — set-similarity self-join: explode profiles to
    * (locus, allele), equi-join on both, count shared per pair. Pairs that
    * share nothing are never generated. `minShared` prunes before the
    * pair aggregation shuffles.
    */
  /** Partition-size bound for one (locus, allele) self-join bucket. A key
    * designated in f isolates contributes f² candidate pairs; above the
    * cap the bucket is block-partitioned so no single task materializes
    * more than ~cap·f of them. At fixture scale no key crosses the
    * default, so every oracle row also certifies the guarded plan.
    */
  val HotKeyCap = 65536

  def similarityJoin(wh: DataFrame, entity: String, minShared: Int): DataFrame =
    similarityJoin(wh, entity, minShared, HotKeyCap)

  /** Threshold similarity self-join with skew guard.
    *
    * Cold keys (frequency <= hotKeyCap) take the plain explode/equi-join.
    * Hot keys — the quadratic exposure of G1/G2/G3 at 100 TB, where a
    * near-universal allele would funnel the whole corpus into one shuffle
    * partition — are block-partitioned: each row gets a stable block id
    * `hash(entity) mod nb` (nb = ceil(f / cap)); the left side replicates
    * once per target block and joins rows of that block only, so every
    * unordered pair is still produced exactly once (as (i, j) with i < j,
    * from i's copy targeted at j's block) while the per-task bucket shrinks
    * from f² to ~f·cap. The frequency pass shuffles on the same key as the
    * join itself and the hot-key set is broadcast — no extra fact-wide
    * shuffle. Candidate rows from both paths union BEFORE the shared-count
    * aggregation, so results are bit-identical to the unguarded join
    * (SkewCacheSpec forces the blocked path and proves it).
    */
  def similarityJoin(wh: DataFrame, entity: String, minShared: Int,
      hotKeyCap: Int): DataFrame = {
    val exploded = wh
      .select(col(entity), posexplode(col("profile")).as(Seq("locus", "allele")))
      .filter(col("allele") =!= lit(AlleleId.Missing))
    val hotKeys = exploded.groupBy(col("locus"), col("allele"))
      .agg(count(lit(1)).as("__f"))
      .filter(col("__f") > hotKeyCap)
    // adaptive: one pre-aggregated probe (map-side partial count, tiny
    // result) decides the plan. No hot keys — every fixture corpus, most
    // real schemes — keeps the original two-reference plan; the guarded
    // plan references the marked fact four times, so entering it blindly
    // would recompute the explode per branch. The probe is memoized per
    // (session, warehouse plan, cap) — the same snapshot scope as the
    // session's cached warehouse itself, so the latch lives exactly as
    // long as the data it measured. Both branches return identical rows,
    // so even a stale entry can only affect plan shape, never results.
    val hasHot = graft.SessionMemo(wh.sparkSession, "profiles.hot_probe",
      s"${wh.queryExecution.analyzed.semanticHash()}|$hotKeyCap")(!hotKeys.isEmpty)
    if (!hasHot) {
      val l = exploded.select(col(entity).as("e1"), col("locus"), col("allele"))
      val r = exploded.select(col(entity).as("e2"), col("locus"), col("allele"))
      return l.join(r, Seq("locus", "allele"))
        .filter(col("e1") < col("e2"))
        .groupBy(col("e1"), col("e2"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
    }
    // cache, not localCheckpoint: referenced 4× below so it must not
    // recompute, but localCheckpoint blocks are executor-local and
    // non-recomputable — an executor loss mid-query would fail the job on
    // a real cluster; cache() keeps the lineage for fault recovery
    val marked = exploded
      .join(broadcast(hotKeys), Seq("locus", "allele"), "left")
      .cache()
    val cold = marked.filter(col("__f").isNull)
    val coldPairs = cold.select(col(entity).as("e1"), col("locus"), col("allele"))
      .join(cold.select(col(entity).as("e2"), col("locus"), col("allele")),
        Seq("locus", "allele"))
      .filter(col("e1") < col("e2"))
      .select(col("e1"), col("e2"))
    val hot = marked.filter(col("__f").isNotNull)
      .withColumn("__nb", ceil(col("__f") / hotKeyCap).cast("int"))
      .withColumn("__blk", pmod(hash(col(entity)), col("__nb")))
    val hotL = hot.select(col(entity).as("e1"), col("locus"), col("allele"),
        explode(sequence(lit(0), col("__nb") - 1)).as("__tgt"))
    val hotR = hot.select(col(entity).as("e2"), col("locus"), col("allele"),
      col("__blk").as("__tgt"))
    val hotPairs = hotL.join(hotR, Seq("locus", "allele", "__tgt"))
      .filter(col("e1") < col("e2"))
      .select(col("e1"), col("e2"))
    coldPairs.unionByName(hotPairs)
      .groupBy(col("e1"), col("e2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** J6 — profile lookup from designations (lib/BIGSdb/Scheme.pm:96-195):
    * positional conjunctive lookup `profile[i] IN (allele_ids_i)`, with "N"
    * in the warehouse matching anything. `designations` maps locus position
    * (1-based) → candidate allele ids (multiple designations per locus give
    * ∃-any-combination semantics, sql/isolatedb.sql:1555-1568).
    */
  def lookupByDesignations(
      warehouse: DataFrame,
      designations: Map[Int, Seq[String]]): DataFrame = {
    val pred = designations.map { case (pos, ids) =>
      val p = element_at(col("profile"), pos)
      p.isin(ids: _*) || p === lit(AlleleId.Arbitrary)
    }.reduce(_ && _)
    warehouse.filter(pred)
  }
}
