package graft.streaming

import graft.functions.Vectors
import graft.functions.Vectors.ShingleHash
import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — the online form of
  * `Dedup.minhashLsh` for an ingest pipeline: as documents arrive, each is
  * checked against the prior members of its LSH buckets and candidate pairs
  * are emitted immediately, instead of re-running the batch join over the
  * whole corpus.
  *
  * State = per (band, bucket) list of (doc id, signature), bounded two ways:
  *   - `maxBucketSize` caps any one bucket (degenerate boilerplate buckets
  *     stop absorbing state, same guard as the batch path);
  *   - event-time timeout evicts buckets idle past `stateHorizon` beyond
  *     the watermark — near-dup detection against older history than that
  *     is the batch job's responsibility (the standard lambda split).
  *
  * A pair that collides in several bands is emitted once per band —
  * downstream exact verification (or a keyed dropDuplicates) dedupes;
  * emitting eagerly keeps the operator append-mode and latency-flat.
  */
object StreamingNearDup {

  case class BandedDoc(doc_id: Long, ts: java.sql.Timestamp,
    sig: Seq[Long], band: Int, bucket: Long)
  case class CandidatePair(id1: Long, id2: Long, est_jaccard: Double,
    ts: java.sql.Timestamp)

  def candidates(
      docs: DataFrame, id: String, text: String,
      eventTime: String, lateness: String,
      shingleN: Int = 3, k: Int = 128, bands: Int = 32,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 1000,
      stateHorizon: String = "1 hour"): Dataset[CandidatePair] = {
    val rows = k / bands
    implicit val bandedEnc = Encoders.product[BandedDoc]
    implicit val pairEnc = Encoders.product[CandidatePair]
    // state = (members, max event time ever seen) — the timeout must only
    // ever EXTEND, else a late-but-valid row would pull it backwards and
    // evict an active bucket early
    implicit val stateEnc = Encoders.kryo[(List[(Long, Seq[Long])], Long)]
    val banded = docs
      .select(col(id).cast("long").as("doc_id"), col(eventTime).as("ts"),
        Vectors.minhashShingles(Dedup.words(col(text)), shingleN, k,
          ShingleHash.XxHash64).as("sig"))
      .filter(col("sig").isNotNull)
      .withWatermark("ts", lateness)
      .select(col("doc_id"), col("ts"), col("sig"),
        explode(Vectors.minhashBands(col("sig"), bands, rows)).as("bk"))
      .select(col("doc_id"), col("ts"), col("sig"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      .as[BandedDoc]
    banded
      .groupByKey(d => (d.band, d.bucket))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), incoming: Iterator[BandedDoc],
         state: GroupState[(List[(Long, Seq[Long])], Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (members, maxTs) = state.getOption.getOrElse((Nil, Long.MinValue))
            val out = Seq.newBuilder[CandidatePair]
            incoming.foreach { d =>
              maxTs = math.max(maxTs, d.ts.getTime)
              members.foreach { case (mid, msig) =>
                if (mid != d.doc_id) {
                  val agree = msig.iterator.zip(d.sig.iterator)
                    .count { case (a, b) => a == b }
                  val est = agree.toDouble / k
                  if (est >= minEstJaccard)
                    out += CandidatePair(math.min(mid, d.doc_id),
                      math.max(mid, d.doc_id), est, d.ts)
                }
              }
              if (members.size < maxBucketSize &&
                  !members.exists(_._1 == d.doc_id))
                members = (d.doc_id, d.sig) :: members
            }
            state.update((members, maxTs))
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs, stateHorizon)
            out.result().iterator
          }
      }
  }
}
