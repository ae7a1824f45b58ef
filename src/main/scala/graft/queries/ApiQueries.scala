package graft.queries

import graft.Tables
import graft.api.QueryCompiler._
import graft.api.SecurityView
import graft.api.SecurityView.{SecurityColumns, SecurityContext}
import graft.operators.Predicates.{Contains, Eq, Ge, Le}
import org.apache.spark.sql.functions._

/** SURVEY §3.1/§3.2 — the query lifecycle end-to-end: typed QuerySpec AST →
  * compiled DataFrame plan → security view → stable sort → count+page.
  * orders = entities, lineitem = designation fact.
  */
object ApiQueries extends QueryModule {

  // One Catalog per (session, dir), with the shuffle-derived dimensions
  // (seqbin stats, scheme-field cache, variation dim) cached on first use —
  // the reference's posture exactly: these ARE materialized tables there
  // (temp_isolate_scheme_fields_<id>, seqbin_stats — sql/isolatedb.sql
  // cache tables), rebuilt on data change, not recomputed per query. The
  // narrow projections (facts, tags, eav, checks) stay lazy views of the
  // cached lineitem. Every call registers the three materialized
  // dimensions again after a clearCache() (SessionMemo.register).
  private[graft] def catalog(s: org.apache.spark.sql.SparkSession, dir: String): Catalog = {
    val c = graft.SessionMemo(s, "api.catalog", dir)(buildCatalog(s, dir))
    if (!sys.env.contains("SPARK_GRAFT_NO_CACHE"))
      Seq(c.seqbinStats, c.schemeCache, c.variations).flatten
        .foreach(graft.SessionMemo.register)
    c
  }

  private def buildCatalog(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = Tables.load(s, dir, "lineitem")
    Catalog(
      // isolate versioning (F12): records with orderkey % 10 == 7 play
      // superseded old versions (new_version points at the successor);
      // everything else is current (new_version NULL)
      entities = Tables.load(s, dir, "orders")
        .withColumn("new_version",
          when(col("o_orderkey") % 10 === 7, col("o_orderkey") + 1)),
      entityId = "o_orderkey",
      newVersionCol = Some("new_version"),
      // designation fact: locus = linenumber, allele = suppkey; curation
      // status (allele_designations.status) mapped from linestatus
      facts = Some(li
        .withColumn("allele", col("l_suppkey").cast("string"))
        .withColumn("status",
          when(col("l_linestatus") === "F", "confirmed").otherwise("provisional"))),
      factEntityId = "l_orderkey",
      locusCol = "l_linenumber",
      alleleCol = "allele",
      // sparse EAV fields (eav_text analogue): per-designation returnflag
      eav = Some(li.select(col("l_orderkey").as("entity_id"),
        lit("rf").as("field"), col("l_returnflag").as("value"))),
      // extended attributes on o_orderpriority: priority → speed class
      extendedAttrs = Some {
        import s.implicits._
        Seq(("1-URGENT", "fast"), ("2-HIGH", "fast"), ("3-MEDIUM", "slow"),
          ("4-NOT SPECIFIED", "slow"), ("5-LOW", "slow"))
          .toDF("field_value", "value")
          .select(lit("o_orderpriority").as("isolate_field"),
            lit("speed").as("attribute"), col("field_value"), col("value"))
      },
      // tag fact (allele_sequences): completeness from linestatus, flag
      // from returnflag ('N' = unflagged)
      tags = Some(li.select(
        col("l_orderkey").as("entity_id"),
        col("l_linenumber").as("locus"),
        (col("l_linestatus") === "F").as("complete"),
        nullif(col("l_returnflag"), lit("N")).as("flag"))),
      // per-entity seqbin_stats dimension (materialized, like the
      // reference's trigger-maintained seqbin_stats table)
      seqbinStats = Some(
        li.groupBy(col("l_orderkey").as("entity_id"))
          .agg(sum(col("l_quantity")).as("size"),
            count(lit(1)).as("contigs"),
            max(col("l_quantity")).as("n50"))),
      // annotation metrics (good/intermediate/bad per name)
      analyses = Some(li.select(
        col("l_orderkey").as("entity_id"),
        (col("l_partkey") % 7).cast("string").as("name"),
        when(col("l_returnflag") === "N", "good")
          .when(col("l_returnflag") === "A", "intermediate")
          .otherwise("bad").as("status"))),
      // assembly checks: only warn/fail rows are recorded
      checks = Some(li.filter(col("l_returnflag") =!= "N").select(
        col("l_orderkey").as("entity_id"),
        (col("l_partkey") % 7).cast("string").as("name"),
        when(col("l_returnflag") === "A", "warn").otherwise("fail").as("status"))),
      totalCheckTypes = 7,
      // long-format scheme-field cache (temp_isolate_scheme_fields_<id>):
      // scheme 1's ST field = sum of quantities, as text
      schemeCache = Some(
        li.groupBy(col("l_orderkey").as("entity_id"))
          .agg(sum(col("l_quantity")).cast("long").cast("string").as("value"))
          .select(col("entity_id"), lit(1).as("scheme_id"),
            lit("ST").as("field"), col("value"))),
      // variation dimension keyed on (locus, allele): deterministic
      // wt/mutation/residue attributes derived from the allele id
      variations = Some(li.select(
          col("l_linenumber").as("locus"),
          col("l_suppkey").cast("string").as("allele"),
          (col("l_suppkey") % 10 === 0).as("is_wt"),
          (col("l_suppkey") % 10 === 7).as("is_mutation"),
          (col("l_suppkey") % 4).cast("string").as("char"))
        .distinct()),
      // private_isolates analogue (F8): high-value orders play private
      // records; embargo = order date + a deterministic offset, with every
      // third private record embargo-less (the reference's NULL embargo)
      privateRecords = Some(Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_orderkey").as("entity_id"),
          when(col("o_orderkey") % 3 === 0, lit(null).cast("date"))
            .otherwise(date_add(col("o_orderdate").cast("date"),
              ((col("o_orderkey") % 3) * 45).cast("int"))).as("embargo"))))
  }

  // The full mutator chain in one spec: provenance + designation + count +
  // ordered page 2 of 50 — the reference's flagship interactive query shape.
  private val apiCompiled = Q(
    "api_compiled_query",
    (s, dir) => {
      val spec = QuerySpec(
        provenance = Seq(FieldClause("o_orderstatus", Eq, "f")),
        designations = Seq(HasAllele(2, Eq, "17")),
        counts = Seq(CountClause(Le, 5)),
        orderBy = Seq(SortSpec("o_totalprice", ascending = false)),
        page = Some(PageSpec(2, 50)))
      paged(spec, catalog(s, dir)).page
        .select(col("o_orderkey"), col("o_totalprice"))
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            WHERE upper(o_orderstatus) = 'F'
              AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_linenumber = 2
                                   AND upper(CAST(l_suppkey AS VARCHAR)) = '17')
              AND (SELECT count(1) FROM lineitem
                   WHERE l_orderkey = o_orderkey) <= 5
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 50 OFFSET 50"""))

  // Designation-absence (J2) + grouped contains through the same compiler.
  private val apiMissing = Q(
    "api_missing_locus",
    (s, dir) => {
      val spec = QuerySpec(
        grouped = Seq(GroupClause(
          Seq("o_orderpriority", "o_orderstatus"), Contains, "o")),
        designations = Seq(LocusMissing(6)),
        orderBy = Seq(SortSpec("o_orderkey")))
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE (upper(o_orderpriority) LIKE '%O%'
                   OR upper(o_orderstatus) LIKE '%O%')
              AND NOT EXISTS (SELECT 1 FROM lineitem
                              WHERE l_orderkey = o_orderkey AND l_linenumber = 6)
            ORDER BY o_orderkey"""))

  // S1: the security view composed under a query — public ∪ own ∪
  // project-shared, date-restricted (Datastore.initiate_view semantics).
  private val s1Security = Q(
    "s1_security_view",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .withColumn("owner_id", col("o_custkey"))
        .withColumn("is_private", col("o_totalprice") > 300000.0)
        .withColumn("project_id", col("o_custkey") % 10)
        .withColumn("date_entered", col("o_orderdate"))
      val ctx = SecurityContext(userId = Some(7L), memberProjects = Set(3L),
        maxDate = Some("1997-06-30"))
      SecurityView.view(o, ctx, SecurityColumns())
        .select(col("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE (NOT (o_totalprice > 300000.0)
                   OR o_custkey = 7
                   OR (o_custkey % 10) IN (3))
              AND o_orderdate <= TIMESTAMP '1997-06-30'
            ORDER BY o_orderkey"""))

  // S1 detail: sets as data partitions — set_view restricts the ROW
  // space (orders of customers ≡1 mod 4 via the named view), set_schemes
  // ∪ set_loci restrict the LOCUS space ({1,2,3} via scheme 1, {5,6}
  // direct, locus 5 renamed), composed UNDER the same security view.
  // Every entry point that takes the viewed frame can run set-restricted.
  private val s1SetView = Q(
    "s1_set_view",
    (s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .withColumn("owner_id", col("o_custkey"))
        .withColumn("is_private", col("o_totalprice") > 300000.0)
        .withColumn("project_id", col("o_custkey") % 10)
        .withColumn("date_entered", col("o_orderdate"))
      val ctx = SecurityContext(userId = Some(7L), memberProjects = Set(3L),
        maxDate = Some("1997-06-30"))
      val secured = SecurityView.view(o, ctx, SecurityColumns())
      // set fixtures: set 1 exposes view "quarter_custs"
      val setView = Seq((1L, "quarter_custs")).toDF("set_id", "view")
      val membership = Tables.load(s, dir, "orders")
        .filter(col("o_custkey") % 4 === 1)
        .select(lit("quarter_custs").as("view"),
          col("o_orderkey").as("entity_id"))
      val scoped = SecurityView.setRowView(
        secured, "o_orderkey", setView, membership, setId = 1L)
      // locus space: scheme 1 = {1,2,3}; set 1 adds loci 5 (renamed), 6
      val loci = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("locus")
      val schemeMembers = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L),
        (2L, 5L)).toDF("scheme_id", "locus")
      val setSchemes = Seq((1L, 1L), (2L, 2L)).toDF("set_id", "scheme_id")
      val setLoci = Seq((1L, 5L, Some("L5_renamed")), (1L, 6L, None))
        .toDF("set_id", "locus", "set_name")
      val visible = SecurityView.setVisibleLoci(
        loci, "locus", setLoci, setSchemes, schemeMembers, setId = 1L)
      val desig = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber").cast("long").as("locus"),
          col("l_suppkey").as("allele"))
      scoped.filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"))
        .join(desig, Seq("o_orderkey"))
        .join(broadcast(visible), Seq("locus"))
        .select(col("o_orderkey"), col("display_name").as("locus_name"),
          col("allele"))
        .orderBy(col("o_orderkey"), col("locus_name"), col("allele"))
    },
    Some("""SELECT o.o_orderkey,
                   CASE WHEN l.l_linenumber = 5 THEN 'L5_renamed'
                        ELSE CAST(l.l_linenumber AS VARCHAR) END AS locus_name,
                   l.l_suppkey AS allele
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE (NOT (o.o_totalprice > 300000.0)
                   OR o.o_custkey = 7
                   OR (o.o_custkey % 10) IN (3))
              AND o.o_orderdate <= TIMESTAMP '1997-06-30'
              AND o.o_custkey % 4 = 1
              AND l.l_linenumber IN (1, 2, 3, 5, 6)
              AND o.o_orderkey < 5000
            ORDER BY o_orderkey, locus_name, allele"""))

  // F13/§3.2: the REST JSON search grammar parsed into the same compiler —
  // one parser in front of the identical predicate semantics.
  private val restParsed = Q(
    "f13_rest_query",
    (s, dir) => {
      val spec = graft.api.RestQuery.parse(
        """{"field.o_orderstatus": "f", "locus.3": "42",
            "oper": "=", "page": 1, "page_size": 100}""")
      paged(spec, catalog(s, dir)).page
        .select(col("o_orderkey"), col("o_orderstatus"))
    },
    Some("""SELECT o_orderkey, o_orderstatus FROM orders
            WHERE upper(o_orderstatus) = 'F'
              AND o_orderkey % 10 != 7  -- F12: REST default new_version IS NULL
              AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_linenumber = 3
                                   AND upper(CAST(l_suppkey AS VARCHAR)) = '42')
            ORDER BY o_orderkey
            LIMIT 100 OFFSET 0"""))

  // The complete _run_query mutator chain in one spec (VERDICT r2 #3):
  // provenance AND tagged-at-locus AND seqbin-size AND designation-count,
  // ordered + paged — the clause families a curator actually composes
  // (IsolateQueryPage.pm:2093-2128).
  private val apiComposedFull = Q(
    "api_composed_full",
    (s, dir) => {
      val spec = QuerySpec(
        provenance = Seq(FieldClause("o_orderstatus", Eq, "F")),
        tags = Seq(TagClause(Some(3), Tagged)),
        seqbin = Seq(SeqbinClause("size", Ge, 100.0)),
        counts = Seq(CountClause(Ge, 4)),
        orderBy = Seq(SortSpec("o_totalprice", ascending = false)),
        page = Some(PageSpec(1, 50)))
      paged(spec, catalog(s, dir)).page
        .select(col("o_orderkey"), col("o_totalprice"))
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            WHERE upper(o_orderstatus) = 'F'
              AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_linenumber = 3)
              AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 GROUP BY 1 HAVING sum(l_quantity) >= 100.0)
              AND (SELECT count(1) FROM lineitem
                   WHERE l_orderkey = o_orderkey) >= 4
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 50 OFFSET 0"""))

  // Tag modes OR-combined (tag_andor=OR): complete tag at locus 2 OR
  // untagged at locus 5 OR flagged 'R' anywhere.
  private val apiTagModes = Q(
    "api_tag_modes_or",
    (s, dir) => {
      val spec = QuerySpec(
        tags = Seq(
          TagClause(Some(2), TagComplete),
          TagClause(Some(5), Untagged),
          TagClause(None, TagFlagged(Some("R")))),
        tagCombine = CombineOr,
        orderBy = Seq(SortSpec("o_orderkey")))
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_linenumber = 2 AND l_linestatus = 'F')
               OR o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                                     WHERE l_linenumber = 5)
               OR o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_returnflag = 'R')
            ORDER BY o_orderkey"""))

  // Designation status + sequence variation + tag count through the same
  // compiler: confirmed designation at locus 1, wild-type or mutation
  // designated at locus 2 (OR), and >= 6 tags in total.
  private val apiStatusVariation = Q(
    "api_status_variation",
    (s, dir) => {
      val spec = QuerySpec(
        designationStatus = Seq(StatusClause(Some(1), "confirmed")),
        variations = Seq(
          VariationClause(2, WildType),
          VariationClause(2, Mutation)),
        variationCombine = CombineOr,
        tagCounts = Seq(TagCountClause(Ge, 6)),
        orderBy = Seq(SortSpec("o_orderkey")))
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_linenumber = 1 AND l_linestatus = 'F')
              AND (o_orderkey IN (SELECT l_orderkey FROM lineitem
                                  WHERE l_linenumber = 2 AND l_suppkey % 10 = 0)
                   OR o_orderkey IN (SELECT l_orderkey FROM lineitem
                                     WHERE l_linenumber = 2 AND l_suppkey % 10 = 7))
              AND (SELECT count(1) FROM lineitem
                   WHERE l_orderkey = o_orderkey) >= 6
            ORDER BY o_orderkey"""))

  // Assembly checks + annotation status: any check failed OR all checks
  // pass (no warn/fail rows at all but seqbin present), AND annotation
  // metric '3' is good.
  private val apiAssemblyChecks = Q(
    "api_assembly_checks",
    (s, dir) => {
      val spec = QuerySpec(
        assemblyChecks = Seq(
          AssemblyCheckClause(AnyCheck, "fail"),
          AssemblyCheckClause(AllChecks, "pass")),
        checksCombine = CombineOr,
        annotations = Seq(AnnotationClause("3", "good")),
        orderBy = Seq(SortSpec("o_orderkey")))
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_partkey % 7 = 3 AND l_returnflag = 'N')
              AND (o_orderkey IN (SELECT l_orderkey FROM lineitem
                                  WHERE l_returnflag = 'R')
                   OR (o_orderkey IN (SELECT l_orderkey FROM lineitem)
                       AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                                              WHERE l_returnflag <> 'N')))
            ORDER BY o_orderkey"""))

  // F6: extended attributes — country→continent style curated lookups
  // (isolate_value_extended_attributes): customers whose nation belongs to
  // region EUROPE, via the attribute dimension nation→region, composed
  // with a provenance clause. Broadcast semi join, entity table unshuffled.
  private val f6Extended = Q(
    "f6_extended_attr",
    (s, dir) => {
      val dim = Tables.load(s, dir, "nation")
        .join(Tables.load(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(
          lit("c_nationkey").as("isolate_field"),
          lit("region").as("attribute"),
          col("n_nationkey").cast("string").as("field_value"),
          col("r_name").as("value"))
      val cat = Catalog(
        entities = Tables.load(s, dir, "customer"),
        entityId = "c_custkey",
        extendedAttrs = Some(dim))
      val spec = QuerySpec(
        provenance = Seq(FieldClause("c_mktsegment", Eq, "BUILDING")),
        extended = Seq(
          ExtendedClause("c_nationkey", "region", Eq, "EUROPE"),
          // negated form: NOT in nations whose region name contains 'AS'
          // (ASIA) — NOT IN with the reference's NULL semantics
          ExtendedClause("c_nationkey", "region",
            graft.operators.Predicates.Contains, "AS", negate = true)),
        orderBy = Seq(SortSpec("c_custkey")))
      paged(spec, cat).page.select(col("c_custkey"), col("c_nationkey"))
    },
    Some("""SELECT c_custkey, c_nationkey FROM customer
            WHERE upper(c_mktsegment) = 'BUILDING'
              AND upper(CAST(c_nationkey AS VARCHAR)) IN (
                SELECT upper(CAST(n_nationkey AS VARCHAR))
                FROM nation JOIN region ON n_regionkey = r_regionkey
                WHERE upper(r_name) = 'EUROPE')
              AND upper(CAST(c_nationkey AS VARCHAR)) NOT IN (
                SELECT upper(CAST(n_nationkey AS VARCHAR))
                FROM nation JOIN region ON n_regionkey = r_regionkey
                WHERE upper(r_name) LIKE '%AS%')
            ORDER BY c_custkey"""))

  // F12: old-version suppression is the REST default — the same parsed
  // body without all_versions drops superseded records, with it they come
  // back. Output: per-status row counts under the default listing.
  private val f12OldVersion = Q(
    "f12_old_version",
    (s, dir) => {
      val spec = graft.api.RestQuery.parse(
        """{"field.o_orderstatus": "f", "page": 1, "page_size": 100000}""")
      assert(spec.suppressOldVersions, "REST default must suppress old versions")
      paged(spec, catalog(s, dir)).page
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(1) AS n FROM orders
            WHERE upper(o_orderstatus) = 'F' AND o_orderkey % 10 != 7
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // Per-family OR combinators (prov_andor / designation_andor,
  // IsolateQueryPage.pm:359,524): provenance clauses OR-folded into one
  // scan predicate; designation clauses (incl. a NOT-EXISTS locus) OR'd
  // as one membership union + single semi join.
  private val apiOrCombinators = Q(
    "api_or_combinators",
    (s, dir) => {
      val spec = QuerySpec(
        provenance = Seq(
          FieldClause("o_orderstatus", Eq, "P"),
          FieldClause("o_orderpriority", Eq, "1-URGENT")),
        provenanceCombine = CombineOr,
        designations = Seq(
          HasAllele(2, Eq, "17"),
          LocusMissing(6)),
        designationCombine = CombineOr,
        orderBy = Seq(SortSpec("o_orderkey")))
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE (upper(o_orderstatus) = 'P'
                   OR upper(o_orderpriority) = '1-URGENT')
              AND (o_orderkey IN (SELECT l_orderkey FROM lineitem
                                  WHERE l_linenumber = 2
                                    AND upper(CAST(l_suppkey AS VARCHAR)) = '17')
                   OR o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                                         WHERE l_linenumber = 6))
            ORDER BY o_orderkey"""))

  // REST scheme query (REST/Routes/Isolates.pm:677-716): scheme.1.ST
  // routes to the scheme-field cache semi join through the same compiler,
  // with the F12 default composed in.
  private val apiSchemeQuery = Q(
    "api_scheme_query",
    (s, dir) => {
      val spec = graft.api.RestQuery.parse(
        """{"scheme.1.ST": "77", "page": 1, "page_size": 100}""")
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE o_orderkey % 10 != 7
              AND o_orderkey IN (
                SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                HAVING upper(CAST(CAST(sum(l_quantity) AS BIGINT) AS VARCHAR)) = '77')
            ORDER BY o_orderkey
            LIMIT 100 OFFSET 0"""))

  // REST field routing (REST/Routes/Isolates.pm:537-573): one body where
  // field names route by registry — o_orderstatus → provenance, rf → EAV
  // semi join, speed → extended-attribute dimension — all AND-composed
  // with the F12 default.
  private val apiRestRouted = Q(
    "api_rest_routed",
    (s, dir) => {
      val registry = graft.api.RestQuery.FieldRegistry(
        eav = Set("rf"),
        extended = Map("speed" -> "o_orderpriority"))
      val spec = graft.api.RestQuery.parse(
        """{"field.o_orderstatus": "F", "field.rf": "R",
            "field.speed": "fast", "page": 1, "page_size": 100000}""",
        registry)
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE upper(o_orderstatus) = 'F'
              AND o_orderkey % 10 != 7
              AND upper(CAST(o_orderpriority AS VARCHAR)) IN
                  ('1-URGENT', '2-HIGH')
              AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                                 WHERE upper(l_returnflag) = 'R')
            ORDER BY o_orderkey
            LIMIT 100000 OFFSET 0"""))

  // F8: embargo-date meta-field predicate
  // (_modify_query_for_embargo_date, IsolateQueryPage.pm:3899-3930) —
  // `id IN (SELECT isolate_id FROM private_isolates WHERE embargo >= d)`,
  // composed with a provenance clause through the same compiler.
  private val f8Embargo = Q(
    "f8_embargo",
    (s, dir) => {
      val spec = QuerySpec(
        provenance = Seq(FieldClause("o_orderstatus", Eq, "F")),
        embargo = Seq(EmbargoClause(Ge, Some("1996-06-01"))),
        orderBy = Seq(SortSpec("o_orderkey")))
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE upper(o_orderstatus) = 'F'
              AND o_orderkey IN (
                SELECT o_orderkey FROM orders
                WHERE o_totalprice > 300000.0 AND o_orderkey % 3 != 0
                  AND CAST(o_orderdate AS DATE)
                      + CAST((o_orderkey % 3) * 45 AS INTEGER)
                      >= DATE '1996-06-01')
            ORDER BY o_orderkey"""))

  // F8 'null' text form: embargo IS NULL among the private records —
  // the reference's valid_null operators (= / NOT) on the literal 'null'.
  private val f8EmbargoNull = Q(
    "f8_embargo_null",
    (s, dir) => {
      val spec = QuerySpec(
        embargo = Seq(EmbargoClause(Eq, None)),
        orderBy = Seq(SortSpec("o_orderkey")))
      paged(spec, catalog(s, dir)).page.select(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey FROM orders
            WHERE o_orderkey IN (
                SELECT o_orderkey FROM orders
                WHERE o_totalprice > 300000.0 AND o_orderkey % 3 = 0)
            ORDER BY o_orderkey"""))

  // The check_embargoes.pl batch transition: records whose embargo date
  // arrived leave the private set with an audit action; NULL embargoes
  // stay private indefinitely. Output = the post-run state of every
  // private record (published flag), which pins BOTH mutations (the
  // remaining set and the history append partition the input).
  private val apiEmbargoPublish = Q(
    "api_embargo_publish",
    (s, dir) => {
      val pr = catalog(s, dir).privateRecords.get
      val (remaining, history) = graft.api.SecurityView.embargoPublish(
        pr, lit("1996-06-01").cast("date"))
      remaining.select(col("entity_id"),
          date_format(col("embargo"), "yyyy-MM-dd").as("embargo"),
          lit(false).as("published"))
        .unionByName(history.select(col("entity_id"),
          date_format(col("embargo"), "yyyy-MM-dd").as("embargo"),
          lit(true).as("published")))
        .orderBy(col("entity_id"))
    },
    Some("""WITH pr AS (
              SELECT o_orderkey AS entity_id,
                     CASE WHEN o_orderkey % 3 = 0 THEN NULL
                          ELSE CAST(o_orderdate AS DATE)
                               + CAST((o_orderkey % 3) * 45 AS INTEGER) END AS embargo
              FROM orders WHERE o_totalprice > 300000.0)
            SELECT entity_id,
                   CASE WHEN embargo IS NOT NULL AND embargo <= DATE '1996-06-01'
                        THEN NULL ELSE strftime(embargo, '%Y-%m-%d') END AS embargo,
                   (embargo IS NOT NULL AND embargo <= DATE '1996-06-01') AS published
            FROM pr ORDER BY entity_id"""))

  val qs: Seq[Q] = Seq(apiCompiled, apiMissing, s1Security, restParsed,
    apiComposedFull, apiTagModes, apiStatusVariation, apiAssemblyChecks,
    f6Extended, f12OldVersion, apiOrCombinators, apiSchemeQuery,
    apiRestRouted, f8Embargo, f8EmbargoNull, s1SetView, apiEmbargoPublish)
}
