package graft.api

import graft.operators.Predicates
import graft.operators.Predicates.Op
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The query DSL compiler (SURVEY §3.1 / §7.1 step 2 — "the heart of
  * parity").
  *
  * The reference builds one SQL string through a fixed pipeline of clause
  * mutators (IsolateQueryPage._run_query:2093-2128): provenance fields, EAV
  * fields, pasted id list, filters, designations, count predicates, then
  * ORDER BY + paging. Here the same grammar is a typed AST compiled onto
  * DataFrames: scalar clauses fold into one `Column` predicate (pushable
  * into the scan); clause families that the reference expresses as
  * subqueries become semi/anti joins against their fact tables.
  *
  * Scale: predicates reach the parquet scan via Catalyst pushdown; each
  * subquery family is ONE semi join (no correlated per-row lookups); the
  * entity table is never shuffled except by joins keyed on its primary key.
  */
object QueryCompiler {

  /** One scalar field clause (F1): field op value. */
  final case class FieldClause(field: String, op: Op, value: String,
    isText: Boolean = true)

  /** Grouped-field clause (F4): one predicate across a field group. */
  final case class GroupClause(fields: Seq[String], op: Op, value: String)

  /** EAV clause (F7): entity must (not) have a matching long-format row. */
  final case class EavClause(field: String, op: Op, value: String,
    negate: Boolean = false, isText: Boolean = true)

  /** Extended-attribute clause (F6, IsolateQueryPage.pm:2480-2492): the
    * entity's `parentField` value belongs to the set of field values whose
    * curated attribute (isolate_value_extended_attributes,
    * sql/isolatedb.sql:199-206) matches `op value` — country→continent
    * style lookups. Comparison is case-insensitive on the parent value,
    * like the reference's UPPER(...) IN (SELECT UPPER(field_value) ...).
    */
  final case class ExtendedClause(parentField: String, attribute: String,
    op: Op, value: String, negate: Boolean = false)

  /** Embargo-date clause (F8, _modify_query_for_embargo_date,
    * IsolateQueryPage.pm:3899-3930): the entity appears in the
    * private-records dimension with an embargo date matching `op value`.
    * `value = None` is the reference's 'null' text — only valid with
    * Eq ("embargo IS NULL") and NotEq ("embargo IS NOT NULL"); all other
    * ops compare the embargo date itself.
    */
  final case class EmbargoClause(op: Op, value: Option[String])

  /** Scheme-field clause (J3 / REST scheme queries,
    * REST/Routes/Isolates.pm:677-716): the entity's cached scheme-field
    * value (temp_isolate_scheme_fields_<id>) matches `op value`.
    */
  final case class SchemeClause(schemeId: Int, field: String, op: Op,
    value: String, isText: Boolean = true)

  /** Designation clause (J1/J2): exists a fact row at `locus` matching the
    * allele predicate; Missing = NOT EXISTS any row at locus (J2).
    */
  sealed trait DesignationClause
  final case class HasAllele(locus: Int, op: Op, value: String) extends DesignationClause
  final case class LocusMissing(locus: Int) extends DesignationClause

  /** Count predicate (A3): designation count per entity `op` n (zero counts
    * included for < / <= via left join).
    */
  final case class CountClause(op: Op, n: Long)

  /** How a clause family combines its own clauses before AND-ing into the
    * query — every reference modifier takes a per-family and/or param
    * (IsolateQueryPage.pm `*_andor`).
    */
  sealed trait Combine
  case object CombineAnd extends Combine
  case object CombineOr extends Combine

  /** Tag clause (_modify_query_for_tags, IsolateQueryPage.pm:3615-3686):
    * presence/completeness/flags of sequence tags at a locus (None = any
    * locus). Flagged(None) = any flag; FlagNone = tagged but unflagged
    * (requires a specific locus, as in the reference).
    */
  sealed trait TagMode
  case object Tagged extends TagMode
  case object Untagged extends TagMode
  case object TagComplete extends TagMode
  case object TagIncomplete extends TagMode
  final case class TagFlagged(flag: Option[String]) extends TagMode
  case object TagFlagNone extends TagMode
  final case class TagClause(locus: Option[Int], mode: TagMode)

  /** Tag-count clause (_modify_query_for_tag_counts via
    * _modify_query_for_counts, IsolateQueryPage.pm:3688-3817): number of
    * tagged loci per entity `op` n, optionally at one locus.
    */
  final case class TagCountClause(op: Op, n: Long, locus: Option[Int] = None)

  /** Designation-status clause (_modify_query_for_designation_status,
    * IsolateQueryPage.pm:3850-3897): entity has a designation with the
    * given curation status (provisional/confirmed), at a locus or any.
    */
  final case class StatusClause(locus: Option[Int], status: String)

  /** Seqbin-stats clause (_modify_query_for_seqbin,
    * IsolateQueryPage.pm:3932-3996): metric column of the per-entity
    * seqbin-stats dimension `op` value. Entities with no stats row count as
    * matching for < / <= (and = / >= of 0), like the reference's
    * `OR field IS NULL` branch.
    */
  final case class SeqbinClause(field: String, op: Op, value: Double)

  /** Annotation-status clause (_modify_query_for_annotation_status,
    * IsolateQueryPage.pm:3997-4045): entity's annotation metric `name` has
    * the given status (good/bad/intermediate).
    */
  final case class AnnotationClause(name: String, status: String)

  /** Assembly-check clause (_modify_query_for_assembly_checks,
    * IsolateQueryPage.pm:4175-4259). The checks fact stores only warn/fail
    * rows; "pass" = has seqbin stats and fewer recorded warn/fail rows than
    * `Catalog.totalCheckTypes`.
    */
  sealed trait CheckScope
  case object AnyCheck extends CheckScope
  case object AllChecks extends CheckScope
  final case class NamedCheck(name: String) extends CheckScope
  final case class AssemblyCheckClause(scope: CheckScope, status: String)

  /** Sequence-variation clause (_modify_query_for_sequence_variation,
    * IsolateQueryPage.pm:4046-4086): entity's designated allele at `locus`
    * appears in the variation dimension as wild-type / mutation / a
    * specific residue character.
    */
  sealed trait VariationWant
  case object WildType extends VariationWant
  case object Mutation extends VariationWant
  final case class Residue(char: String) extends VariationWant
  final case class VariationClause(locus: Int, want: VariationWant)

  final case class SortSpec(field: String, ascending: Boolean = true)
  final case class PageSpec(page: Int, pageSize: Int = 100)

  /** The full query AST — clause families AND'd in the reference's
    * _run_query mutator order (IsolateQueryPage.pm:2093-2106); each family
    * internally combines per its `*Combine` (reference defaults: AND for
    * tags/status, OR for seqbin/checks/variation).
    */
  final case class QuerySpec(
    provenance: Seq[FieldClause] = Nil,
    grouped: Seq[GroupClause] = Nil,
    extended: Seq[ExtendedClause] = Nil,
    idList: Option[Seq[Long]] = None,
    eav: Seq[EavClause] = Nil,
    embargo: Seq[EmbargoClause] = Nil,
    schemeFields: Seq[SchemeClause] = Nil,
    designations: Seq[DesignationClause] = Nil,
    variations: Seq[VariationClause] = Nil,
    counts: Seq[CountClause] = Nil,
    tags: Seq[TagClause] = Nil,
    tagCounts: Seq[TagCountClause] = Nil,
    designationStatus: Seq[StatusClause] = Nil,
    seqbin: Seq[SeqbinClause] = Nil,
    annotations: Seq[AnnotationClause] = Nil,
    assemblyChecks: Seq[AssemblyCheckClause] = Nil,
    suppressOldVersions: Boolean = false,
    provenanceCombine: Combine = CombineAnd,
    designationCombine: Combine = CombineAnd,
    tagCombine: Combine = CombineAnd,
    statusCombine: Combine = CombineAnd,
    seqbinCombine: Combine = CombineOr,
    annotationCombine: Combine = CombineOr,
    checksCombine: Combine = CombineOr,
    variationCombine: Combine = CombineOr,
    orderBy: Seq[SortSpec] = Nil,
    page: Option[PageSpec] = None)

  /** The registered tables a spec compiles against. `entityId` is the
    * primary key of `entities`; `facts` is the designation fact keyed by
    * (factEntityId, locusCol, alleleCol) with an optional status column
    * (allele_designations.status); `eav` the long-format sparse fields
    * (entity, field, value); `tags` the tag-interval fact
    * (allele_sequences: entity, locus, complete, flag — flag null =
    * unflagged); `seqbinStats` the per-entity wide stats dimension
    * (seqbin_stats); `analyses` the annotation metrics (entity, name,
    * status); `checks` the warn/fail assembly-check rows (entity, name,
    * status) with `totalCheckTypes` the number of defined check types;
    * `variations` the (locus, allele) variation dimension with boolean
    * is_wt / is_mutation and a residue `char` column.
    */
  final case class Catalog(
    entities: DataFrame, entityId: String,
    facts: Option[DataFrame] = None, factEntityId: String = "entity_id",
    locusCol: String = "locus", alleleCol: String = "allele",
    statusCol: String = "status",
    eav: Option[DataFrame] = None, eavEntityId: String = "entity_id",
    eavField: String = "field", eavValue: String = "value",
    tags: Option[DataFrame] = None, tagEntityId: String = "entity_id",
    tagLocusCol: String = "locus", tagCompleteCol: String = "complete",
    tagFlagCol: String = "flag",
    seqbinStats: Option[DataFrame] = None, seqbinEntityId: String = "entity_id",
    analyses: Option[DataFrame] = None, analysisEntityId: String = "entity_id",
    checks: Option[DataFrame] = None, checkEntityId: String = "entity_id",
    totalCheckTypes: Int = 0,
    variations: Option[DataFrame] = None,
    extendedAttrs: Option[DataFrame] = None,
    newVersionCol: Option[String] = None,
    schemeCache: Option[DataFrame] = None, schemeEntityId: String = "entity_id",
    privateRecords: Option[DataFrame] = None,
    privateEntityId: String = "entity_id", embargoCol: String = "embargo",
    skipping: Option[graft.sources.ZoneMaps.Layout] = None,
    factSkipping: Option[graft.sources.ZoneMaps.Layout] = None,
    eavSkipping: Option[graft.sources.ZoneMaps.Layout] = None,
    tagSkipping: Option[graft.sources.ZoneMaps.Layout] = None)

  /** Catalog over a registry-indexed entity table: the entities frame
    * is the plain read of `dataDir` and the skipping Layout comes from
    * the table's own [[graft.sources.SkippingRegistry]] registration
    * (present or not — unregistered tables compile the plain scan).
    * This is the default construction path: nothing is hand-built, so
    * a table whose ingest refreshed its stats prunes on the next query
    * with zero caller plumbing.
    */
  def registryCatalog(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, entityId: String): Catalog =
    Catalog(entities = spark.read.parquet(dataDir), entityId = entityId,
      skipping = graft.sources.SkippingRegistry.layoutFor(spark, dataDir))

  /** Attach a registry-indexed designation FACT to `cat`: the facts
    * frame is the plain read of `factDir` and the `factSkipping` Layout
    * comes from the table's own registration — the [[registryCatalog]]
    * discipline applied to the fact scan, so no caller hand-builds a
    * Layout (unregistered fact dirs attach with skipping off).
    */
  def withRegistryFacts(spark: org.apache.spark.sql.SparkSession,
      cat: Catalog, factDir: String, factEntityId: String = "entity_id",
      locusCol: String = "locus", alleleCol: String = "allele"): Catalog =
    cat.copy(facts = Some(spark.read.parquet(factDir)),
      factEntityId = factEntityId, locusCol = locusCol,
      alleleCol = alleleCol,
      factSkipping = graft.sources.SkippingRegistry.layoutFor(spark, factDir))

  /** [[withRegistryFacts]] for the EAV fact (F7): the reference indexes
    * every `eav_*` table per (isolate, field) — sql/isolatedb.sql:1707-
    * 1812 — which at file granularity is a per-file `field` zone over a
    * field-clustered layout.
    */
  def withRegistryEav(spark: org.apache.spark.sql.SparkSession,
      cat: Catalog, eavDir: String, eavEntityId: String = "entity_id",
      eavField: String = "field", eavValue: String = "value"): Catalog =
    cat.copy(eav = Some(spark.read.parquet(eavDir)),
      eavEntityId = eavEntityId, eavField = eavField, eavValue = eavValue,
      eavSkipping = graft.sources.SkippingRegistry.layoutFor(spark, eavDir))

  /** [[withRegistryFacts]] for the tag-interval fact (J12 families):
    * the reference indexes `allele_sequences` by locus — per-file locus
    * zones over a locus-clustered layout.
    */
  def withRegistryTags(spark: org.apache.spark.sql.SparkSession,
      cat: Catalog, tagDir: String, tagEntityId: String = "entity_id",
      tagLocusCol: String = "locus", tagCompleteCol: String = "complete",
      tagFlagCol: String = "flag"): Catalog =
    cat.copy(tags = Some(spark.read.parquet(tagDir)),
      tagEntityId = tagEntityId, tagLocusCol = tagLocusCol,
      tagCompleteCol = tagCompleteCol, tagFlagCol = tagFlagCol,
      tagSkipping = graft.sources.SkippingRegistry.layoutFor(spark, tagDir))

  /** Compile spec → DataFrame plan (unsorted, unpaged — see `paged`). */
  def compile(spec: QuerySpec, cat: Catalog): DataFrame =
    compileWithPruneReport(spec, cat)._1

  /** [[compile]] plus the file-skipping accounting: when the catalog
    * registers a [[graft.sources.ZoneMaps.Layout]] and the spec's
    * AND-combined provenance clauses include range/equality predicates
    * on indexed columns, the entity SCAN routes through the published
    * zone-map/Bloom stats and reads only the surviving files — the
    * reference's expression-index discipline (sql/isolatedb.sql:984's
    * index-backed provenance filters) at file granularity. At 100 TB
    * (~800k files) this is the difference between scheduling a task per
    * file and scheduling tasks only where the predicate can match.
    *
    * Pruning never decides: every clause is still applied by the
    * clause-family pipeline below, so a pruned plan returns EXACTLY the
    * unpruned plan's rows (PruneSpec pins equality and that files were
    * skipped). Fallback is transparent — no published stats, an
    * OR-combined provenance family, or no indexed clause all compile
    * the plain unpruned scan and report None.
    */
  def compileWithPruneReport(spec: QuerySpec, cat: Catalog):
      (DataFrame, Option[graft.sources.ZoneMaps.PruneReport]) = {
    val (df, reports) = compileWithPruneReports(spec, cat)
    (df, reports.entities)
  }

  /** Per-scan prune accounting: the entity table's and (when the
    * corresponding Layout is registered) each fact's — designation,
    * EAV, tag.
    */
  final case class PruneReports(
    entities: Option[graft.sources.ZoneMaps.PruneReport],
    facts: Option[graft.sources.ZoneMaps.PruneReport],
    eav: Option[graft.sources.ZoneMaps.PruneReport] = None,
    tags: Option[graft.sources.ZoneMaps.PruneReport] = None)

  /** [[compileWithPruneReport]], extended to the designation FACT scan
    * (the reference's `i_ad3` locus index, sql/isolatedb.sql:982, at
    * file granularity): when the catalog registers a `factSkipping`
    * Layout — same contract as entity skipping: `facts` must be the
    * plain read of that Layout's dataDir — the J1/J2 designation
    * family's fact scan routes through the survivor UNION of the
    * queried loci's zones. Sound for AND and OR combine alike because
    * the fused-membership pass only consumes fact rows matching SOME
    * clause's locus (its pre-filter is the OR of all clause
    * predicates), and entities absent from the pruned fact coalesce to
    * the same false flags the unpruned plan gives them (LocusMissing
    * included). Declined whenever another clause family also reads the
    * fact (counts / variations / designation status) — those consume
    * rows OUTSIDE the queried loci, and a shared pruned frame would be
    * unsound for them.
    */
  def compileWithPruneReports(spec: QuerySpec, cat: Catalog):
      (DataFrame, PruneReports) = {
    val routed = cat.skipping.flatMap { layout =>
      // equality on the Bloom column probes with the clause value in
      // the BUILD-side representation (raw value — cast-to-string for
      // non-text keys, case-folding applied centrally by
      // ZoneMaps.decideBlooms per the artifact's own `folded` flag); the ci
      // marker gates servability: a ci probe against a raw-cased
      // artifact would be a false negative, so it only routes at
      // case-folded Blooms
      def bloomEq(c: FieldClause): Option[graft.sources.ZoneMaps.BloomKey] =
        layout.bloomCol.filter(bc =>
            c.field == bc && c.op == Predicates.Eq && c.value != null &&
              !c.value.equalsIgnoreCase("null"))
          .map(_ => graft.sources.ZoneMaps.BloomKey(c.value, ci = c.isText))
      // a pasted id list on the Bloom-indexed entity id (S7) is the
      // archetypal point probe: the file survives if it may contain ANY
      // listed id, and the semi join downstream still decides rows
      val listKeys = layout.bloomCol.filter(_ == cat.entityId)
        .flatMap(_ => spec.idList)
        .map(_.map(v => graft.sources.ZoneMaps.BloomKey(v.toString)))
      // one OR unit per clause arm: Bloom-col equalities prefer the
      // Bloom (the point-predicate artifact); everything else maps to
      // a zone range
      def unitOf(c: FieldClause): Option[graft.sources.ZoneMaps.OrUnit] =
        bloomEq(c).map(Right(_): graft.sources.ZoneMaps.OrUnit)
          .orElse(clauseRange(c)
            .map(Left(_): graft.sources.ZoneMaps.OrUnit))
      // a grouped clause is an OR over its member fields (compileGroup,
      // text semantics), so it prunes as per-member units — all-or-
      // nothing per clause: one uncompilable member could match any
      // file. The negative ops (NotEq / NotContains) compile to an AND
      // of negated member predicates, which the union algebra does not
      // express — decline those.
      def groupUnits(g: GroupClause):
          Option[Seq[graft.sources.ZoneMaps.OrUnit]] = g.op match {
        case Predicates.NotEq | Predicates.NotContains => None
        case _ =>
          val us = g.fields.map(f => unitOf(FieldClause(f, g.op, g.value)))
          if (us.forall(_.isDefined)) Some(us.flatten) else None
      }
      if (spec.provenanceCombine == CombineAnd ||
          spec.provenance.size + spec.grouped.size <= 1) {
        // AND-combined scalar family: provenance clauses prune as
        // ranges/Bloom probes; each grouped clause contributes its own
        // survivor-union group (groups intersect — a clause whose
        // members don't all compile just drops, sound under AND)
        graft.sources.ZoneMaps.pruneForClauses(
          cat.entities, layout,
          spec.provenance.flatMap(clauseRange),
          spec.provenance.flatMap(bloomEq), listKeys,
          orGroups = spec.grouped.flatMap(groupUnits(_).toSeq))
      } else {
        // OR-combined family (provenance + grouped arms fold into ONE
        // scalar predicate in compileFamilies): prunable only as the
        // survivor UNION over every arm's units, and only when EVERY
        // arm — including every member field of every grouped clause —
        // is an indexed range or a Bloom equality; one unindexed arm
        // could match any file. The id list still AND-composes with
        // the whole family, so it prunes regardless.
        val arms: Seq[Option[Seq[graft.sources.ZoneMaps.OrUnit]]] =
          spec.provenance.map(c => unitOf(c).map(Seq(_))) ++
            spec.grouped.map(groupUnits)
        graft.sources.ZoneMaps.pruneForClauses(
          cat.entities, layout, Nil, Nil, listKeys,
          orGroups = if (arms.forall(_.isDefined))
            Seq(arms.flatten.flatten) else Nil)
      }
    }
    val factRouted = cat.factSkipping
      .filter(_ => spec.designations.nonEmpty && spec.counts.isEmpty &&
        spec.variations.isEmpty && spec.designationStatus.isEmpty)
      .flatMap { layout =>
        val loci = spec.designations.map {
          case HasAllele(l, _, _) => l
          case LocusMissing(l) => l
        }.distinct
        cat.facts.flatMap(graft.sources.ZoneMaps.pruneForClauses(
          _, layout, Nil, Nil, None,
          orGroups = Seq(loci.map(l =>
            Left(graft.sources.ZoneMaps.ColRange(
              cat.locusCol, l.toLong, l.toLong)):
              graft.sources.ZoneMaps.OrUnit))))
      }
    // EAV fact pruning (the reference's per-(isolate, field) eav_*
    // indexes, sql/isolatedb.sql:1707-1812, at file granularity): the
    // fused F7 pass only consumes rows matching SOME clause's
    // (field, value) predicate, so the fact scan routes through the
    // survivor UNION of the queried FIELDS' zones — sound for positive
    // and negated clauses alike (a negated clause's flag is computed
    // from the same matching rows; entities with none coalesce to the
    // same false the unpruned plan gives them). Field zones are
    // case-folded text zones; the clause's field equality is exact-
    // case, so the folded point interval keeps a superset — pruning
    // never decides. The EAV frame has no other consumer family.
    val eavRouted = cat.eavSkipping
      .filter(_ => spec.eav.nonEmpty)
      .flatMap { layout =>
        val fields = spec.eav.map(_.field).distinct
        cat.eav.flatMap(graft.sources.ZoneMaps.pruneForClauses(
          _, layout, Nil, Nil, None,
          orGroups = Seq(fields.map(f =>
            Left(graft.sources.ZoneMaps.TextRange(
              cat.eavField, f.toUpperCase, f.toUpperCase)):
              graft.sources.ZoneMaps.OrUnit))))
      }
    // Tag fact pruning (allele_sequences' locus index at file
    // granularity): both tag families — membership AND zero-inclusive
    // counts — pre-filter to rows matching some clause's locus, so the
    // locus-zone survivor union serves them; rows outside every queried
    // locus contribute nothing to any flag or count. Declined when ANY
    // clause is locus-unscoped (its predicate matches every fact row).
    val tagClauses = spec.tags.nonEmpty || spec.tagCounts.nonEmpty
    val tagRouted = cat.tagSkipping
      .filter(_ => tagClauses &&
        spec.tags.forall(_.locus.isDefined) &&
        spec.tagCounts.forall(_.locus.isDefined))
      .flatMap { layout =>
        val loci = (spec.tags.flatMap(_.locus) ++
          spec.tagCounts.flatMap(_.locus)).distinct
        cat.tags.flatMap(graft.sources.ZoneMaps.pruneForClauses(
          _, layout, Nil, Nil, None,
          orGroups = Seq(loci.map(l =>
            Left(graft.sources.ZoneMaps.ColRange(
              cat.tagLocusCol, l.toLong, l.toLong)):
              graft.sources.ZoneMaps.OrUnit))))
      }
    val cat2 = cat.copy(
      entities = routed.map(_._1).getOrElse(cat.entities),
      facts = factRouted.map(f => Option(f._1)).getOrElse(cat.facts),
      eav = eavRouted.map(f => Option(f._1)).getOrElse(cat.eav),
      tags = tagRouted.map(f => Option(f._1)).getOrElse(cat.tags))
    (compileFamilies(spec, cat2),
      PruneReports(routed.map(_._2), factRouted.map(_._2),
        eavRouted.map(_._2), tagRouted.map(_._2)))
  }

  private def parseLong(v: String): Option[Long] =
    scala.util.Try(v.trim.toLong).toOption

  /** yyyy-MM-dd → epoch days: the encoding the stats builder zones
    * DATE columns with, so date clauses prune as day-granularity longs
    * (the reference's BRIN-on-datestamp, sql/seqdef.sql:360, at file
    * granularity). Gt/Lt keep the boundary DAY's files — closed
    * intervals, and the exact clause re-applies.
    */
  private def parseDateDays(v: String): Option[Long] =
    scala.util.Try(java.time.LocalDate.parse(v.trim).toEpochDay).toOption

  /** The zone-map interval a scalar clause prunes with, if any.
    * Non-text: numeric Eq/range ops, plus date values as epoch-day
    * longs. Gt/Lt keep their boundary file (the interval is closed) —
    * sound, since pruning never decides and the exact clause re-applies
    * to the surviving rows. Text: ci equality is the point interval
    * [V, V] over the upper-cased zones, `starts with` the half-open
    * [P, succ(P)) — ASCII prefixes only ([[graft.sources.ZoneMaps
    * .TextRange]] explains why a closed `P + '￿'` bound is unsound in
    * UTF-8 order). The literal "null" (IS NULL / IS NOT NULL
    * semantics) prunes through the per-file null counts
    * ([[graft.sources.ZoneMaps.NullRange]]) — value zones structurally
    * cannot serve it.
    */
  private def clauseRange(
      c: FieldClause): Option[graft.sources.ZoneMaps.ZoneRange] =
    if (c.value == null) None
    else if (c.value.equalsIgnoreCase("null")) c.op match {
      // the reference's null literal (IS NULL / IS NOT NULL) — value
      // zones cannot serve it; the per-file NULL COUNTS can
      case Predicates.Eq =>
        Some(graft.sources.ZoneMaps.NullRange(c.field, wantNull = true))
      case Predicates.NotEq =>
        Some(graft.sources.ZoneMaps.NullRange(c.field, wantNull = false))
      case _ => None
    }
    else if (c.isText) {
      val v = c.value.toUpperCase
      c.op match {
        case Predicates.Eq =>
          Some(graft.sources.ZoneMaps.TextRange(c.field, v, v))
        case Predicates.StartsWith
            if v.nonEmpty && v.forall(ch => ch < 0x7f) =>
          Some(graft.sources.ZoneMaps.TextRange(c.field, v,
            v.init + (v.last + 1).toChar, hiExclusive = true))
        case _ => None
      }
    } else parseLong(c.value).orElse(parseDateDays(c.value)).flatMap { v =>
      c.op match {
        case Predicates.Eq =>
          Some(graft.sources.ZoneMaps.ColRange(c.field, v, v))
        case Predicates.Ge | Predicates.Gt =>
          Some(graft.sources.ZoneMaps.ColRange(c.field, v, Long.MaxValue))
        case Predicates.Le | Predicates.Lt =>
          Some(graft.sources.ZoneMaps.ColRange(c.field, Long.MinValue, v))
        case _ => None
      }
    }

  private def compileFamilies(spec: QuerySpec, cat: Catalog): DataFrame = {
    var df = cat.entities

    // 0. old-version suppression (F12): `new_version IS NULL` — the
    // default on every REST listing (REST/Routes/Isolates.pm:49,491).
    // A plain scan predicate, so it pushes into the parquet read.
    if (spec.suppressOldVersions)
      for (nv <- cat.newVersionCol) df = df.filter(col(nv).isNull)

    // 1. provenance + grouped scalar predicates: one folded Column —
    // AND or OR per the reference's prov_andor (IsolateQueryPage.pm:359)
    val scalar: Seq[Column] =
      spec.provenance.map(c => Predicates.compile(col(c.field), c.op, c.value, c.isText)) ++
      spec.grouped.map(g => Predicates.compileGroup(g.fields.map(col), g.op, g.value))
    if (scalar.nonEmpty)
      df = df.filter(spec.provenanceCombine match {
        case CombineAnd => scalar.reduce(_ && _)
        case CombineOr => scalar.reduce(_ || _)
      })

    // 1b. extended attributes (F6): the attribute dimension is curated
    // metadata (a few thousand rows at most) → broadcast semi/anti join on
    // the upper-cased parent value. Never shuffles the entity table.
    for (c <- spec.extended; ea <- cat.extendedAttrs) {
      val dim = ea
        .filter(col("isolate_field") === c.parentField &&
          col("attribute") === c.attribute &&
          Predicates.compile(col("value"), c.op, c.value))
        .select(upper(col("field_value").cast("string")).as("__ev"))
      df = df.join(broadcast(dim),
        upper(col(c.parentField).cast("string")) === col("__ev"),
        if (c.negate) "left_anti" else "left_semi")
      // SQL NOT IN excludes rows whose left side is NULL (the comparison
      // yields NULL, not TRUE) — mirror that for the negated form, since
      // an anti join would otherwise keep NULL-parent rows
      if (c.negate) df = df.filter(col(c.parentField).isNotNull)
    }

    // 2. pasted id list (S7): broadcast semi join
    spec.idList.foreach { ids =>
      val spark = df.sparkSession
      import spark.implicits._
      df = df.join(broadcast(ids.toDF(cat.entityId)),
        Seq(cat.entityId), "left_semi")
    }

    // 3. EAV clauses (F7): all clauses fuse into one aggregation over the
    // EAV fact — an EXISTS flag per clause, AND'd (the reference ANDs
    // sparse-field clauses)
    if (spec.eav.nonEmpty) for (eav <- cat.eav) {
      val terms = spec.eav.map(c => Seq((
        col(cat.eavField) === c.field &&
          Predicates.compile(col(cat.eavValue), c.op, c.value, c.isText),
        c.negate)))
      df = applyFusedMembership(df, cat.entityId, eav,
        col(cat.eavEntityId), "eav", terms, CombineAnd)
    }

    // 3a. embargo-date clauses (F8): `id IN (SELECT isolate_id FROM
    // private_isolates WHERE embargo <op> value)` — one semi join per
    // clause against the private-records dimension (tiny vs the fact:
    // broadcast-eligible; Catalyst picks BHJ when it fits).
    // A privacy-adjacent filter must never silently vanish: compiling an
    // embargo clause without the dimension would return EXTRA rows.
    if (spec.embargo.nonEmpty && cat.privateRecords.isEmpty)
      throw new IllegalArgumentException(
        "embargo clauses require a privateRecords dimension in the catalog")
    for (c <- spec.embargo; pr <- cat.privateRecords) {
      val emb = col(cat.embargoCol)
      val pred: Column = c.value match {
        case None => c.op match {
          case Predicates.Eq => emb.isNull
          case Predicates.NotEq => emb.isNotNull
          case o => throw new IllegalArgumentException(
            s"$o is not a valid operator for comparing null embargo values")
        }
        case Some(d) =>
          val v = lit(d).cast("date")
          val e = emb.cast("date")
          c.op match {
            case Predicates.Eq => e === v
            case Predicates.NotEq => e =!= v
            case Predicates.Gt => e > v
            case Predicates.Ge => e >= v
            case Predicates.Lt => e < v
            case Predicates.Le => e <= v
            case o => throw new IllegalArgumentException(
              s"$o is not a valid operator for embargo dates")
          }
      }
      df = df.join(pr.filter(pred).select(col(cat.privateEntityId).as(cat.entityId)),
        Seq(cat.entityId), "left_semi")
    }

    // 3b. scheme-field clauses (J3 / REST scheme queries): semi join
    // against the long-format scheme-field cache — the reference's
    // materialized temp_isolate_scheme_fields_<id> (sql/isolatedb.sql
    // cache tables) — all clauses fused into one aggregation pass, AND'd.
    if (spec.schemeFields.nonEmpty) for (sc <- cat.schemeCache) {
      val terms = spec.schemeFields.map(c => Seq((
        col("scheme_id") === c.schemeId && col("field") === c.field &&
          Predicates.compile(col("value"), c.op, c.value, c.isText),
        false)))
      df = applyFusedMembership(df, cat.entityId, sc,
        col(cat.schemeEntityId), "sf", terms, CombineAnd)
    }

    // 4. designation clauses (J1/J2), AND/OR per designation_andor
    // (IsolateQueryPage.pm:524) — all clauses in ONE pass over the fact
    if (spec.designations.nonEmpty) for (facts <- cat.facts) {
      val terms = spec.designations.map {
        case HasAllele(locus, op, value) =>
          Seq((col(cat.locusCol) === locus &&
            Predicates.compile(col(cat.alleleCol), op, value), false))
        case LocusMissing(locus) =>
          Seq((col(cat.locusCol) === locus, true))
      }
      df = applyFusedMembership(df, cat.entityId, facts,
        col(cat.factEntityId), "des", terms, spec.designationCombine)
    }

    // 5. sequence variation (IsolateQueryPage.pm:4046-4086): designated
    // allele at the locus appears in the variation dimension with the
    // wanted wt/mutation/residue property. ONE pass: the fact (restricted
    // to the queried loci) broadcast-joins the variation dimension once;
    // each clause is then a row predicate over the annotated rows.
    if (spec.variations.nonEmpty) for (facts <- cat.facts; vd <- cat.variations) {
      val loci = spec.variations.map(_.locus).distinct
      val vdl = vd.filter(col("locus").isin(loci: _*))
        .select(col("locus").as("__v_locus"), col("allele").as("__v_allele"),
          col("is_wt").as("__v_wt"), col("is_mutation").as("__v_mut"),
          col("char").as("__v_char"))
      val annotated = facts.filter(col(cat.locusCol).isin(loci: _*))
        .join(broadcast(vdl), col(cat.locusCol) === col("__v_locus") &&
          col(cat.alleleCol) === col("__v_allele"))
      val terms = spec.variations.map { c =>
        val want = c.want match {
          case WildType => col("__v_wt")
          case Mutation => col("__v_mut")
          case Residue(ch) => col("__v_char") === ch
        }
        Seq((col(cat.locusCol) === c.locus && want, false))
      }
      df = applyFusedMembership(df, cat.entityId, annotated,
        col(cat.factEntityId), "var", terms, spec.variationCombine)
    }

    // 6. designation count predicates (A3): zero-inclusive, all clauses in
    // one conditional-count aggregation
    if (spec.counts.nonEmpty) for (facts <- cat.facts) {
      df = applyFusedCounts(df, cat.entityId, facts, col(cat.factEntityId),
        "n", spec.counts.map(c => (lit(true), c.op, c.n.toString)))
    }

    // 7. tags (IsolateQueryPage.pm:3615-3686): membership in the
    // allele_sequences tag fact, by presence / completeness / flags — all
    // modes are row predicates (TagFlagNone = EXISTS ∧ ¬EXISTS, a
    // two-predicate conjunction), so the family is ONE aggregation pass.
    if (spec.tags.nonEmpty) for (tags <- cat.tags) {
      def at(locus: Option[Int]): Column =
        locus.map(l => col(cat.tagLocusCol) === l).getOrElse(lit(true))
      val terms = spec.tags.map { c =>
        val a = at(c.locus)
        c.mode match {
          case Tagged => Seq((a, false))
          case Untagged => Seq((a, true))
          case TagComplete => Seq((a && col(cat.tagCompleteCol), false))
          case TagIncomplete => Seq((a && !col(cat.tagCompleteCol), false))
          case TagFlagged(Some(f)) =>
            Seq((a && col(cat.tagFlagCol) === f, false))
          case TagFlagged(None) =>
            Seq((a && col(cat.tagFlagCol).isNotNull, false))
          case TagFlagNone =>
            // tagged at the locus AND not flagged there (reference emits
            // IN(tagged) AND NOT IN(flagged) as a single or-able term,
            // IsolateQueryPage.pm:3663-3668). A specific locus is
            // required, as in the reference ("Searching for any locus not
            // flagged is not supported", :3660)
            require(c.locus.isDefined,
              "TagFlagNone requires a specific locus")
            Seq((a, false), (a && col(cat.tagFlagCol).isNotNull, true))
        }
      }
      df = applyFusedMembership(df, cat.entityId, tags,
        col(cat.tagEntityId), "tag", terms, spec.tagCombine)
    }

    // 8. tag counts (IsolateQueryPage.pm:3688-3817): zero-inclusive count
    // of tag rows per entity, optionally per locus — one conditional-count
    // aggregation for all clauses.
    if (spec.tagCounts.nonEmpty) for (tags <- cat.tags) {
      val clauses = spec.tagCounts.map { c =>
        (c.locus.map(l => col(cat.tagLocusCol) === l).getOrElse(lit(true)),
          c.op, c.n.toString)
      }
      df = applyFusedCounts(df, cat.entityId, tags,
        col(cat.tagEntityId), "tn", clauses)
    }

    // 9. designation status (IsolateQueryPage.pm:3850-3897): designation
    // with the given curation status at a locus (or any) — fused pass.
    if (spec.designationStatus.nonEmpty) for (facts <- cat.facts) {
      val terms = spec.designationStatus.map { c =>
        val a = c.locus.map(l => col(cat.locusCol) === l).getOrElse(lit(true))
        Seq((a && col(cat.statusCol) === c.status, false))
      }
      df = applyFusedMembership(df, cat.entityId, facts,
        col(cat.factEntityId), "st", terms, spec.statusCombine)
    }

    // 10. seqbin stats (IsolateQueryPage.pm:3932-3996): metric predicate
    // over the per-entity ONE-ROW stats dimension (the reference's
    // trigger-maintained seqbin_stats has the isolate as PK — a multi-row
    // input here would duplicate entities) — a single left join; each
    // clause is then a row predicate with the reference's
    // `OR field IS NULL` semantics (stats-less entities match < / <= and
    // = / >= of 0) folded into a null-aware term. A physically-NULL metric
    // inside an existing row takes the same NULL arm, exactly as the
    // reference's LEFT JOIN disjunction does.
    if (spec.seqbin.nonEmpty) for (stats <- cat.seqbinStats) {
      val statCols = stats.columns.filter(_ != cat.seqbinEntityId)
        .map(c => col(c).as(s"__sb_$c"))
      val joined = df.join(
        stats.select(
          col(cat.seqbinEntityId).as(cat.entityId) +: statCols.toIndexedSeq: _*),
        Seq(cat.entityId), "left")
      val terms = spec.seqbin.map { c =>
        val v = col(s"__sb_${c.field}").cast("double")
        val pred = Predicates.compile(v, c.op, c.value.toString, isText = false)
        val nullMatches = c.op match {
          case Predicates.Lt | Predicates.Le => true
          case Predicates.Eq | Predicates.Ge => c.value == 0.0
          case _ => false
        }
        when(v.isNull, lit(nullMatches)).otherwise(coalesce(pred, lit(false)))
      }
      val keep = spec.seqbinCombine match {
        case CombineAnd => terms.reduce(_ && _)
        case CombineOr => terms.reduce(_ || _)
      }
      df = joined.filter(keep)
        .drop(stats.columns.filter(_ != cat.seqbinEntityId)
          .map(c => s"__sb_$c").toIndexedSeq: _*)
    }

    // 11. annotation status (IsolateQueryPage.pm:3997-4045): the entity's
    // annotation metric `name` carries the given status — fused pass.
    if (spec.annotations.nonEmpty) for (an <- cat.analyses) {
      val terms = spec.annotations.map(c =>
        Seq((col("name") === c.name && col("status") === c.status, false)))
      df = applyFusedMembership(df, cat.entityId, an,
        col(cat.analysisEntityId), "an", terms, spec.annotationCombine)
    }

    // 12. assembly checks (IsolateQueryPage.pm:4175-4259): the checks fact
    // stores warn/fail rows only; pass = has seqbin stats and fewer
    // recorded rows than totalCheckTypes. Named scope here is one check
    // name (the reference expands a named group to its member checks).
    // Every clause is a predicate over conditional COUNTS of the checks
    // fact plus a stats-presence flag, so the whole family is ONE
    // aggregation pass + one broadcast-size presence join, clause count
    // notwithstanding.
    if (spec.assemblyChecks.nonEmpty) for (checks <- cat.checks) {
      val pk = cat.entityId
      val total = cat.totalCheckTypes
      val names = spec.assemblyChecks.map(_.scope)
        .collect { case NamedCheck(n) => n }.distinct
      val nameIdx = names.zipWithIndex.toMap
      val aggCols = Seq(
        count(lit(1)).as("__ck_all"),
        count(when(col("status") === "warn", lit(1))).as("__ck_warn"),
        count(when(col("status") === "fail", lit(1))).as("__ck_fail")) ++
        names.zipWithIndex.flatMap { case (n, i) => Seq(
          count(when(col("name") === n, lit(1))).as(s"__ckn_$i"),
          count(when(col("name") === n && col("status") === "warn", lit(1)))
            .as(s"__cknw_$i"),
          count(when(col("name") === n && col("status") === "fail", lit(1)))
            .as(s"__cknf_$i"))
        }
      val agg = checks.groupBy(col(cat.checkEntityId).as(pk))
        .agg(aggCols.head, aggCols.tail: _*)
      var joined = df.join(agg, Seq(pk), "left")
      val hasStats: Column = cat.seqbinStats match {
        case Some(s) =>
          joined = joined.join(
            s.select(col(cat.seqbinEntityId).as(pk)).distinct()
              .withColumn("__ck_has", lit(true)),
            Seq(pk), "left")
          coalesce(col("__ck_has"), lit(false))
        case None => lit(false)
      }
      def c0(n: String) = coalesce(col(n), lit(0L))
      val termExprs = spec.assemblyChecks.map { c =>
        (c.scope, c.status) match {
          case (AnyCheck, "pass") =>
            // `=== 0` kept separate: with total = 0, "no checks recorded"
            // still passes (the unfused path's `__cn IS NULL` arm)
            hasStats && (c0("__ck_all") === 0 ||
              c0("__ck_all") < lit(total.toLong))
          case (AnyCheck, "warn") => c0("__ck_warn") > 0
          case (AnyCheck, "fail") => c0("__ck_fail") > 0
          case (AnyCheck, "pass/warn") =>
            // the reference's exact disjunction (IsolateQueryPage.pm:
            // 4206-4210): no checks recorded OR no fails OR fewer recorded
            // than defined — an entity whose checks are a warn/fail mix
            // covering every type does NOT match, by the reference's rule
            hasStats && (c0("__ck_all") === 0 || c0("__ck_fail") === 0 ||
              c0("__ck_all") < lit(total.toLong))
          case (AnyCheck, "warn/fail") => c0("__ck_all") > 0
          case (AllChecks, "pass") => hasStats && c0("__ck_all") === 0
          // total = 0 (no check types defined): `count === 0` would match
          // EVERY entity; "all checks warn" over zero checks matches none,
          // as the unfused grouped-count filter did
          case (AllChecks, "warn") =>
            if (total == 0) lit(false) else c0("__ck_warn") === lit(total.toLong)
          case (AllChecks, "fail") =>
            if (total == 0) lit(false) else c0("__ck_fail") === lit(total.toLong)
          case (AllChecks, "warn/fail") =>
            if (total == 0) lit(false) else c0("__ck_all") === lit(total.toLong)
          case (NamedCheck(n), "pass") =>
            hasStats && c0(s"__ckn_${nameIdx(n)}") === 0
          case (NamedCheck(n), "warn") => c0(s"__cknw_${nameIdx(n)}") > 0
          case (NamedCheck(n), "fail") => c0(s"__cknf_${nameIdx(n)}") > 0
          case (NamedCheck(n), "pass/warn") =>
            hasStats && c0(s"__cknf_${nameIdx(n)}") === 0
          case (NamedCheck(n), "warn/fail") => c0(s"__ckn_${nameIdx(n)}") > 0
          case (scope, status) => throw new IllegalArgumentException(
            s"unsupported assembly check: $scope/$status")
        }
      }
      val keep = spec.checksCombine match {
        case CombineAnd => termExprs.reduce(_ && _)
        case CombineOr => termExprs.reduce(_ || _)
      }
      val dropCols = Seq("__ck_all", "__ck_warn", "__ck_fail", "__ck_has") ++
        names.indices.flatMap(i => Seq(s"__ckn_$i", s"__cknw_$i", s"__cknf_$i"))
      df = joined.filter(keep).drop(dropCols: _*)
    }
    df
  }

  /** Fused existence membership: every term is a conjunction of
    * (row-predicate, negate) EXISTS tests over the SAME fact, so the whole
    * clause family compiles to ONE map-side-combinable hash aggregation
    * (a `max(bool)` flag per predicate) plus ONE join back to the running
    * plan — k semi/anti joins (k fact shuffles) collapse to 1 regardless
    * of clause count. This is the Spark shape of the reference's single
    * generated WHERE clause per family (IsolateQueryPage.pm builds one SQL
    * string; it never re-scans per sub-clause either).
    *
    * Entities with no fact rows: flags are null after the left join;
    * coalesce(false) makes a positive EXISTS false and a negated one true —
    * exactly the semi/anti-join semantics, including `Untagged` /
    * `LocusMissing` matching entities absent from the fact entirely.
    */
  private def applyFusedMembership(
      df: DataFrame,
      pk: String,
      fact: DataFrame,
      factPk: Column,
      tag: String,
      terms: Seq[Seq[(Column, Boolean)]],
      combine: Combine): DataFrame = {
    val preds = terms.flatten.map(_._1)
    val flagNames = preds.indices.map(i => s"__${tag}$i")
    val flags = preds.zip(flagNames).map { case (p, n) =>
      max(when(p, lit(true)).otherwise(lit(false))).as(n)
    }
    // existence flags are monotone, so pre-filtering to rows matching ANY
    // predicate keeps the shuffle as small as the unfused filtered sets
    val agg = fact.filter(preds.reduce(_ || _))
      .groupBy(factPk.as(pk)).agg(flags.head, flags.tail: _*)
    val joined = df.join(agg, Seq(pk), "left")
    val flagIter = flagNames.iterator
    val termExprs = terms.map(conj => conj.map { case (_, neg) =>
      val f = coalesce(col(flagIter.next()), lit(false))
      if (neg) !f else f
    }.reduce(_ && _))
    val keep = combine match {
      case CombineAnd => termExprs.reduce(_ && _)
      case CombineOr => termExprs.reduce(_ || _)
    }
    joined.filter(keep).drop(flagNames: _*)
  }

  /** Fused zero-inclusive count predicates: one conditional `count(when)`
    * per clause inside a single aggregation + one left join (null → 0),
    * replacing a full-fact groupBy per clause.
    */
  private def applyFusedCounts(
      df: DataFrame,
      pk: String,
      fact: DataFrame,
      factPk: Column,
      tag: String,
      clauses: Seq[(Column, Predicates.Op, String)]): DataFrame = {
    val names = clauses.indices.map(i => s"__${tag}c$i")
    val aggs = clauses.zip(names).map { case ((scope, _, _), n) =>
      count(when(scope, lit(1))).as(n)
    }
    // rows outside every clause's scope contribute 0 to every count, and
    // entities dropped entirely coalesce to 0 after the left join — so the
    // pre-filter keeps zero-inclusive semantics while shrinking the
    // shuffle to the scoped rows (same monotone argument as the
    // membership pre-filter)
    val agg = fact.filter(clauses.map(_._1).reduce(_ || _))
      .groupBy(factPk.as(pk)).agg(aggs.head, aggs.tail: _*)
    val joined = df.join(agg, Seq(pk), "left")
    val keep = clauses.zip(names).map { case ((_, op, v), n) =>
      Predicates.compile(coalesce(col(n), lit(0L)), op, v, isText = false)
    }.reduce(_ && _)
    joined.filter(keep).drop(names: _*)
  }


  /** ORDER BY with the reference's stable tiebreaker (O1: user sort then
    * primary key — IsolateQueryPage.pm:2107-2128), then count + page (O3:
    * ResultsTablePage count rewrite + LIMIT/OFFSET). Returns (total, page).
    */
  /** Lazily-counted page result: `total` runs the count job only when
    * forced, so callers that render a page without the total-hits banner
    * (or bench a single page) don't execute the query twice.
    */
  final class Paged(totalThunk: () => Long, val page: DataFrame) {
    lazy val total: Long = totalThunk()
  }

  def paged(spec: QuerySpec, cat: Catalog): Paged = {
    val base = compile(spec, cat)
    val sorts = spec.orderBy.map(s =>
      if (s.ascending) col(s.field).asc else col(s.field).desc) :+
      col(cat.entityId).asc
    val sorted = base.orderBy(sorts: _*)
    val pageDf = spec.page match {
      case Some(PageSpec(p, size)) => sorted.offset((p - 1) * size).limit(size)
      case None => sorted
    }
    // count on the UNSORTED plan — Catalyst prunes the sort, same as the
    // reference's COUNT rewrite (ResultsTablePage.pm:76-81)
    new Paged(() => base.count(), pageDf)
  }
}
