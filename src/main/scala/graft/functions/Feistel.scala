package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.{ColumnBridge => Bridge}
import org.apache.spark.sql.types.{DataType, LongType}

/** Stateless bijective epoch shuffle over a dense row-index domain.
  *
  * A training pipeline re-orders its corpus every epoch. The usual Spark
  * answer (`corpus_shuffle`) is ORDER BY a keyed hash — one range exchange
  * per epoch, and answering "which document sits at position p?" costs a
  * full scan. This operator instead computes the permuted position as a
  * PURE FUNCTION of (row index, epoch, seed): a 4-round balanced Feistel
  * network over the smallest 2w-bit domain covering n, cycle-walked back
  * into [0, n). Properties that matter at 100 TB:
  *
  *   - ZERO shuffle to compute the order: the position column is a narrow
  *     codegen projection; the only exchange is the optional
  *     `repartitionByRange(pos)` when physically materializing the epoch.
  *   - O(1) random access: the network is invertible, so a dataloader can
  *     ask "position p of epoch e" and seek straight to row
  *     `inverse(p, n, seed, e)` — no precomputed permutation table, no
  *     scan. (A hash-sort order has no inverse short of materializing it.)
  *   - Per-epoch independence for free: the epoch number is mixed into
  *     every round key, so each epoch is an unrelated permutation of the
  *     same corpus under the same seed.
  *
  * Cross-engine reproducible by construction: the round function is the
  * repo-standard 60-bit md5 convention (`('0x'||substr(md5(s),1,15))::BIGINT`),
  * so DuckDB replays the identical walk as a recursive CTE.
  *
  * Reference analogue: BIGSdb randomizes nothing — its export order is
  * deterministic query order — but the training-pipeline extension scope
  * (SURVEY §2.14) calls for reproducible corpus ordering; this is the
  * seekable member of that family alongside `corpus_shuffle`'s sort form.
  *
  * Bijectivity: a Feistel network is a bijection on [0, 4^w) for ANY round
  * function (each round is invertible); cycle-walking a bijection restricted
  * to starting points in [0, n) terminates (indices outside [0, n) form
  * paths that must re-enter, since the walk follows a finite permutation
  * cycle that contains the start) and yields a bijection on [0, n).
  */
object Feistel {

  /** Half-width w in bits: smallest w >= 1 with 4^w >= n (domain 2^(2w)). */
  def halfWidth(n: Long): Int = {
    require(n >= 1 && n <= (1L << 60), s"n out of range: $n")
    var w = 1
    while ((1L << (2 * w)) < n) w += 1
    w
  }

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(s) — bit-identical to `Vectors.MinHashSig.md5Long60`
    * but reusing a thread-local digest (this sits inside a per-row loop).
    */
  private def md5Long60(s: String): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(s.getBytes("UTF-8"))
    // first 8 bytes big-endian = first 16 hex chars; >>> 4 drops the 16th
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Round function: w low bits of md5("graft-feistel-seed-epoch-round-R"). */
  private def roundF(seed: Long, epoch: Long, r: Int, right: Long, mask: Long): Long =
    md5Long60(s"graft-feistel-$seed-$epoch-$r-$right") & mask

  private val Rounds = 4

  private def permuteOnce(x: Long, w: Int, seed: Long, epoch: Long): Long = {
    val mask = (1L << w) - 1
    var l = x >>> w
    var r = x & mask
    var rd = 1
    while (rd <= Rounds) {
      val t = r
      r = l ^ roundF(seed, epoch, rd, r, mask)
      l = t
      rd += 1
    }
    (l << w) | r
  }

  private def inverseOnce(x: Long, w: Int, seed: Long, epoch: Long): Long = {
    val mask = (1L << w) - 1
    var l = x >>> w
    var r = x & mask
    var rd = Rounds
    while (rd >= 1) {
      val t = l
      l = r ^ roundF(seed, epoch, rd, l, mask)
      r = t
      rd -= 1
    }
    (l << w) | r
  }

  /** Position of row `idx` in epoch `epoch`'s permutation of [0, n). */
  def permute(idx: Long, n: Long, seed: Long, epoch: Long): Long = {
    require(idx >= 0 && idx < n, s"idx $idx outside [0, $n)")
    val w = halfWidth(n)
    var p = permuteOnce(idx, w, seed, epoch)
    while (p >= n) p = permuteOnce(p, w, seed, epoch)
    p
  }

  /** Row index occupying position `pos` in epoch `epoch` — permute's inverse. */
  def inverse(pos: Long, n: Long, seed: Long, epoch: Long): Long = {
    require(pos >= 0 && pos < n, s"pos $pos outside [0, $n)")
    val w = halfWidth(n)
    var p = inverseOnce(pos, w, seed, epoch)
    while (p >= n) p = inverseOnce(p, w, seed, epoch)
    p
  }

  /** `feistel_permute(idx, epoch)` as a codegen expression;
    * n and seed are plan-time constants. The md5-per-round kernel is a
    * static call inside whole-stage codegen — no UDF boxing, no fallback.
    */
  case class FeistelPermute(
      idx: Expression, epoch: Expression,
      n: Long, seed: Long)
      extends BinaryExpression {
    override def left: Expression = idx
    override def right: Expression = epoch
    override def dataType: DataType = LongType
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(idx = l, epoch = r)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val i = a.asInstanceOf[Long]; val e = b.asInstanceOf[Long]
      permute(i, n, seed, e)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.Feistel.permute($a, ${n}L, ${seed}L, $b)")
  }

  def permuteCol(idx: Column, epoch: Column, n: Long, seed: Long): Column =
    Bridge.column(FeistelPermute(
      Bridge.expression(idx), Bridge.expression(epoch), n, seed))
}
