package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Centralized allele-id semantics (SURVEY §7.4 hard-part 5).
  *
  * Allele ids are TEXT even when numeric (`allele_id_format`,
  * sql/isolatedb.sql:727), with sentinel values:
  *   "0" = missing, "N" = arbitrary/any, "P" = present
  * (lib/BIGSdb/Scheme.pm:96-195, lib/BIGSdb/Datastore.pm:4042-4062), and the
  * profile-lookup missing-locus marker -999 (Scheme.pm:117).
  */
object AlleleId {
  val Missing   = "0"
  val Arbitrary = "N"
  val Present   = "P"
  val MissingLocusSentinel = "-999"

  /** "N" matches anything in profile comparison; "0" only matches "0". */
  def matches(a: Column, b: Column): Column =
    a === b || a === lit(Arbitrary) || b === lit(Arbitrary)

  /** Numeric-aware text sort key: numeric ids sort numerically, others
    * lexically after them — `CASE WHEN id ~ '^[0-9]+$' THEN lpad(id,10,'0')
    * ELSE id END` (lib/BIGSdb/ResultsTablePage.pm:60-64).
    */
  def sortKey(c: Column): Column =
    when(c.rlike("^[0-9]+$"), lpad(c, 10, "0")).otherwise(c)
}
