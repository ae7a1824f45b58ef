package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: makes the graft scalar functions available
  * to ANY SparkSession — including pure-SQL clients (JDBC/Thrift, notebooks)
  * that never touch the Scala API — via
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * This is the Spark-native analogue of the reference installing its
  * plpgsql/domain functions into every database it manages
  * (sql/isolatedb.sql, sql/seqdef.sql): the capability travels with the
  * session configuration, not with call sites.
  *
  * All injected functions are native Catalyst `Expression`s with codegen
  * (graft.functions.Bio / Vectors), so SQL callers get the same
  * whole-stage-codegen'd kernels as DataFrame callers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer: thresholded levenshtein predicates drop to the O(n*band)
    // banded kernel — exact rewrite, see BandedLevenshteinRewrite
    ext.injectOptimizerRule(_ => graft.plans.BandedLevenshteinRewrite)
    // a small ORDER BY sorts in one task, no range-sampling job — see
    // SmallSort
    ext.injectOptimizerRule(_ => graft.plans.SmallSort)
    inject(ext, "reverse_complement", "reverse-complements a DNA sequence",
      { case Seq(c) => functions.Bio.ReverseComplement(c) })
    inject(ext, "is_complete_cds", "start codon, in-frame terminal stop, no internal stop",
      { case Seq(c) => functions.Bio.IsCompleteCds(c) })
    inject(ext, "translate_dna", "translates DNA to protein (standard codon table)",
      { case Seq(c) => functions.Bio.Translate(c) })
    inject(ext, "vec_cosine", "cosine similarity of two double arrays",
      { case Seq(a, b) => functions.Vectors.CosineSimilarity(a, b) })
    inject(ext, "vec_dot", "dot product of two double arrays",
      { case Seq(a, b) => functions.Vectors.DotProduct(a, b) })
    inject(ext, "vec_l2sq", "squared Euclidean distance of two double arrays",
      { case Seq(a, b) => functions.Vectors.SquaredL2(a, b) })
    inject(ext, "jaccard_sim", "Jaccard similarity of two distinct-element arrays",
      { case Seq(a, b) => functions.Vectors.JaccardSim(a, b) })
    inject(ext, "simhash64", "64-bit SimHash over an array of shingle hashes",
      { case Seq(a) => functions.Vectors.SimHash64(a) })
    // aggregate: the bounded per-group bottom-k behind the two-phase ANN
    // rank — SQL callers get the same k-bounded partial buffers
    // (bottom_k(struct, k) -> ascending array of the k smallest)
    inject(ext, "bottom_k", "k smallest values per group as an ascending array",
      { case Seq(child, k) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollect
          .topK(child,
            org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollect
              .literalInt(k, "bottom_k"),
            reverse = true) })
  }
}

object GraftExtensions {
  private def inject(
      ext: SparkSessionExtensions,
      name: String,
      usage: String,
      builder: PartialFunction[Seq[Expression], Expression]): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      // 5-arg form: (className, db, NAME, usage, examples) — the 3-arg
      // constructor is (className, DB, name) and would register the usage
      // string as the function's name
      new ExpressionInfo("graft.functions", null, name, usage, ""),
      (exprs: Seq[Expression]) =>
        builder.applyOrElse(exprs, (es: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name: unexpected argument count ${es.length}"))))
}
