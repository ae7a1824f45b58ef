package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Bloom filter on the repo's portable md5 hash — the
  * join-pruning structure for selective semi joins at scale: build the
  * filter over the SMALL side's keys, broadcast its bit words as a plan
  * literal, and prefilter the fact side with a NARROW codegen'd bitwise
  * test before any shuffle reaches it. No false negatives (the exact
  * semi join after the prefilter returns exactly the unfiltered result);
  * false positives only cost wasted rows in the exact join.
  *
  * All k probe hashes derive from md5(i + "|" + key), so membership is a
  * pure function of the key — the same test evaluates identically in any
  * engine, and results never depend on partitioning.
  *
  * Scale posture: the build side is small by contract (that is when a
  * Bloom prefilter wins); its DISTINCT bit positions (≤ k·|keys|, ints
  * only) are collected once behind `maxSetBits` — the same size-gated
  * driver-collect posture as the seeded-scan candidate broadcast. The
  * fact side is never shuffled, exploded, or joined to test membership.
  * Words are 32-bit so the bit mask stays in exact-double pow() range.
  */
object Bloom {

  final case class Filter(words: Seq[Long], mBits: Long, k: Int)

  /** Probe `i`'s bit position for `key`: the one md5 probe, shared with
    * the per-file skipping Blooms ([[graft.sources.ZoneMaps]]).
    */
  private[graft] def probe(i: Int, key: Column, mBits: Long): Column =
    pmod(conv(substring(md5(
      concat(lit(s"$i|"), key.cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(mBits))

  /** Distinct bit positions set by `df`'s keys — the distributed part of
    * the build (one explode of k ints per key + a distinct).
    */
  def bitPositions(df: DataFrame, key: String, mBits: Long, k: Int): DataFrame =
    df.select(explode(array(
        (0 until k).map(i => probe(i, col(key), mBits)): _*)).as("pos"))
      .distinct()

  /** Build the filter: collect the distinct bit positions (size-gated)
    * and pack them into 32-bit words.
    */
  def build(df: DataFrame, key: String, mBits: Long = 1L << 16, k: Int = 3,
      maxSetBits: Int = 1000000): Filter = {
    val pos = bitPositions(df, key, mBits, k)
      .limit(maxSetBits + 1).collect().map(_.getLong(0))
    require(pos.length <= maxSetBits,
      s"bloom build side sets more than $maxSetBits bits — " +
        "not a small side; use a plain semi join")
    val words = new Array[Long](((mBits + 31) / 32).toInt)
    pos.foreach(p => words((p >> 5).toInt) |= (1L << (p & 31).toInt))
    Filter(words.toSeq, mBits, k)
  }

  /** Membership test as a narrow column expression: every probe bit set.
    * The words inline as a plan literal (broadcast-by-literal, the
    * kmeans-centroid pattern) — no join, no shuffle, codegen'd.
    */
  def mightContain(key: Column, f: Filter): Column = {
    val words = typedLit(f.words)
    (0 until f.k).map { i =>
      val p = probe(i, key, f.mBits)
      val word = get(words, shiftright(p, 5).cast("int"))
      val mask = pow(lit(2.0), pmod(p, lit(32L)).cast("double")).cast("long")
      word.bitwiseAND(mask) =!= 0L
    }.reduce(_ && _)
  }

  /** Bloom-accelerated semi join: prefilter `fact` by the small side's
    * filter, then the exact semi join over the survivors. Result is
    * EXACTLY the plain semi join (no false negatives) — the Bloom step
    * only shrinks what reaches the shuffle.
    */
  def semiJoin(fact: DataFrame, factKey: String,
      small: DataFrame, smallKey: String,
      mBits: Long = 1L << 16, k: Int = 3): DataFrame = {
    val f = build(small, smallKey, mBits, k)
    fact.filter(mightContain(col(factKey), f))
      .join(broadcast(small.select(col(smallKey).as(factKey)).distinct()),
        Seq(factKey), "left_semi")
  }
}
