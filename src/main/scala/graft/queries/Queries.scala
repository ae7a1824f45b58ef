package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark plan builder keyed by operator id
  * (SURVEY.md §2), plus (when SQL-expressible) a DuckDB oracle returning the
  * same rows with identical column names.
  *
  * Conventions (driver compare is column-name-keyed value hashing):
  *   - every computed column is aliased identically on both sides
  *   - double-typed aggregates are rounded to 4 decimals on both sides
  *   - every result carries a deterministic total ORDER BY on both sides
  *     (harmless if the driver re-sorts; load-bearing if it doesn't)
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def qs: Seq[Q]
}

object AllQueries {
  val modules: Seq[QueryModule] = Seq(
    ApiQueries,
    FilterQueries,
    JoinQueries,
    AggQueries,
    SortQueries,
    ProfileQueries,
    ClusterQueries,
    GenomeComparatorQueries,
    SeqSearchQueries,
    ScanQueries,
    SourceQueries,
    AlignQueries,
    ExportQueries,
    MiscQueries,
    DedupQueries,
    CurationQueries,
    TextQueries,
    TokenizerQueries,
    SimilarityQueries,
    StreamingQueries,
  )
  lazy val all: Seq[Q] = {
    val qs = modules.flatMap(_.qs)
    // A name collision would make this toMap last-wins — silently replacing
    // a verified query with an unverified one (the r9 text_pii_scrub bug).
    val dups = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    qs
  }
  /** Every query by name. Each call first installs the registry's plan
    * rules in the caller's session ([[graft.plans.SmallSort.setup]]).
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        graft.plans.SmallSort.setup(s)
        q.fn(s, dir)
      }
    }.toMap
  lazy val oracles: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
