package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The one local-vs-distributed crossover policy. Per-query fixed cost
  * (pins, counts, a few shuffles per round) dominates small inputs, so
  * within its budget an operator collects its input once and runs on the
  * driver; beyond it the distributed loop is the scale route. Operators
  * keep their own cost formulas; this object owns the budgets, the
  * bounded collect and the override that forces the distributed path.
  * Both paths are bit-identical (local ≡ [[distributed]] specs in
  * ClusteringSpec, SimilaritySpec and DedupSpec).
  */
object Crossover {
  val LinWork = 20000000000L  // n²·L compares, LIN / PRIM nearest maps (~20 s)
  val LinMatrix = 64000000L   // n·L dictionary-coded matrix cells, same paths
  val GraphEdges = 5000000L   // raw edges, components + MSF (~80 MB, ~1 s union)
  val GraphPairs = 2000000L   // pairs, dbscan + labelPropagate/coreness/pagerank,
                              // MinHash LSH candidate pairs
  val NewickEdges = 200000L   // edges, Newick per-level memberships
  val NnDescentWork = 50000L  // n·k list rows, NN-descent (O(n·k²) local work)
  val MmrRows = 4096L         // shortlist rows, MMR greedy
  val MinhashCells = 2200000L // n·k signature longs, MinHash LSH (~64 MB of rows)

  private val forced = new DynamicVariable(false)

  /** Runs `body` with every crossover on the distributed path. Thread-
    * scoped, not a session conf: specs share one session, and a conf set
    * by one suite would flip the gates of every suite beside it. Gates
    * decide during their call, so the scope covers exactly its calls.
    */
  private[graft] def distributed[A](body: => A): A =
    forced.withValue(true)(body)

  def fits(work: Long, budget: Long): Boolean =
    !forced.value && work <= budget

  /** Probe and collect in one `take(budget + 1)`, so the upstream runs
    * once whichever path wins: Some(rows, `ids` cast to long) for at most
    * `budget` rows. None beyond it, for non-integral `ids` (the kernels
    * key longs; a numeric min on string ids would disagree with the
    * distributed lexicographic one), for any null (the kernels read
    * primitives), and under [[distributed]], which runs no job.
    */
  def take(frame: DataFrame, budget: Long, ids: String*): Option[Array[Row]] = {
    val integral = ids.forall(c => frame.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    if (forced.value || !integral) return None
    val rows = frame.select(frame.columns.toSeq.map(c =>
        if (ids.contains(c)) col(c).cast("long").as(c) else col(c)): _*)
      .take(math.min(budget + 1, Int.MaxValue.toLong).toInt)
    if (rows.length > budget || rows.exists(_.anyNull)) None else Some(rows)
  }
}
