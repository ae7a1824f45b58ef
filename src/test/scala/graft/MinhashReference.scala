package graft

import graft.functions.Vectors.{MinHashSig, ShingleHash}
import graft.pipeline.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => Bridge}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The unfused MinHash chain: `Dedup.shingles`, one hash per shingle, the
  * k universal-hash mins over the hash array, and the per-band
  * slice / cast / array_join / xxhash64 bucket key. The fused kernels
  * (`Vectors.MinHashShingles`, `Vectors.MinHashBands`) must equal it
  * bit for bit (DedupSpec).
  */
object MinhashReference {

  /** Per-shingle hashes for a hash choice: Spark's xxhash64 per element,
    * or the portable md5-60 form as md5 + substring + conv per element.
    */
  def shingleHashes(sh: Column, hash: ShingleHash): Column = hash match {
    case ShingleHash.XxHash64 => transform(sh, s => xxhash64(s))
    case ShingleHash.Md5Portable => transform(sh, Dedup.portableHash(_))
  }

  /** min over the element hashes of h_i(x) = (a_i·(x mod p) + b_i) mod p,
    * for each of the k coefficient pairs.
    */
  case class Signature(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val coefs = MinHashSig.coefficients(k)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val (as, bs) = coefs
      val P = MinHashSig.P
      val mins = Array.fill(k)(Long.MaxValue)
      (0 until arr.numElements()).foreach { j =>
        val hm = { val r = arr.getLong(j) % P; if (r < 0) r + P else r }
        (0 until k).foreach { i =>
          mins(i) = math.min(mins(i), (hm * as(i) + bs(i)) % P)
        }
      }
      ArrayData.toArrayData(mins)
    }
  }

  def minhashSignature(hashes: Column, k: Int): Column =
    Bridge.column(Signature(Bridge.expression(hashes), k))

  /** The signature of `text`'s n-gram shingles; null when it has none. */
  def signature(text: Column, n: Int, k: Int, hash: ShingleHash): Column = {
    val sh = Dedup.shingles(text, n)
    when(size(sh) > 0, minhashSignature(shingleHashes(sh, hash), k))
  }

  /** LSH band key: hash of each size-r slice of the signature. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(array_join(transform(slice(sig, b * lit(rows) + lit(1), lit(rows)),
          x => x.cast("string")), ",")).as("bucket")))
}
