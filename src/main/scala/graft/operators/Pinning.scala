package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Round-pin strategy for iterative DataFrame loops (NN-descent, label
  * propagation, PageRank, connected components, Borůvka MSF, k-means).
  *
  * Each round of these loops must materialize its state: without a pin
  * the logical plan doubles per iteration (planning alone OOMs), and
  * with a lazy pin every consumer re-executes the round. The QUESTION is
  * where the pinned blocks live, and the right answer depends on the
  * deployment:
  *
  *   - `local` (default): `localCheckpoint()` — executor-local blocks,
  *     zero extra I/O. Right for single-node sessions and short loops,
  *     but the storage is NON-REPLICATED and the lineage is truncated:
  *     on a real cluster an executor loss mid-loop is unrecoverable
  *     (the job dies, it cannot recompute).
  *   - `reliable`: `checkpoint()` to the configured checkpoint
  *     directory (`spark.graft.checkpointDir`, or the context's
  *     existing checkpoint dir) — survives any executor loss; costs one
  *     write+read of the round state per round. The 100 TB posture for
  *     long-running builds on shared clusters.
  *   - `disk2`: `persist(DISK_ONLY_2)` + eager count, then the plan is
  *     re-resolved against the CacheManager and re-wrapped as a flat
  *     `LogicalRDD` scan (the same lineage cut `checkpoint()` performs —
  *     without it the logical plan doubles per round and planning alone
  *     OOMs in long loops). Two disk replicas on different executors;
  *     survives a SINGLE executor loss per block without distributed-FS
  *     round trips. The middle ground when no reliable checkpoint dir
  *     exists.
  *
  * Selected per session via `spark.conf.set("spark.graft.checkpoint",
  * ...)` — the loop code is strategy-agnostic and results are
  * bit-identical across strategies (PinningSpec pins this): the pin only
  * decides where bytes live, never what they are.
  */
object Pinning {
  val ConfKey = "spark.graft.checkpoint"
  val DirKey = "spark.graft.checkpointDir"

  private def mode(df: DataFrame): String =
    df.sparkSession.conf.get(ConfKey, "local")

  /** disk2 bookkeeping: scan-RDD id → the persisted frame whose
    * CacheManager entry backs it. `unpin` on the flat frame (or anything
    * DERIVED from it — exact-plan `Dataset.unpersist` matching would
    * no-op there) walks the plan's LogicalRDD ids and releases through
    * this registry. Entries are tiny (a Dataset reference) and bounded by
    * the number of live pins: every loop built on pin() unpins superseded
    * rounds, and CacheLifecycleSpec pins that a full sweep leaves the
    * CacheManager empty.
    */
  private val disk2Pins =
    scala.collection.concurrent.TrieMap.empty[Int, DataFrame]

  /** Materialize `df` eagerly under the session's pin strategy. The
    * returned frame is fully computed (no lazy tail) and its plan is a
    * flat scan under ALL strategies — safe to reference any number of
    * times and to feed back into an iterative loop without plan growth.
    *
    * Ownership: the CALLER owns the returned pin and should `unpin` it
    * when done. Under `local`/`reliable` a dropped pin's blocks are
    * eventually reclaimed by the ContextCleaner; under `disk2` the pin
    * also holds a CacheManager entry that persists until `unpin` (or
    * `spark.catalog.clearCache()`), so long-running disk2 sessions that
    * discard many results without unpinning will accumulate entries.
    * That reclaiming holds only for results that are dropped: a pin held
    * by a [[graft.SessionMemo]] entry lives until the context stops, and
    * so does every earlier pin its lineage still reads. An operator
    * whose result may be memoized pins the result and then unpins its
    * intermediate pins (`Dedup.minhashLsh` releases its signatures).
    */
  def pin(df: DataFrame): DataFrame = mode(df) match {
    case "local" => df.localCheckpoint()
    case "reliable" =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(df.sparkSession.conf.get(DirKey,
          sys.props("java.io.tmpdir") + "/graft-checkpoints"))
      df.checkpoint()
    case "disk2" =>
      val p = df.persist(StorageLevel.DISK_ONLY_2)
      p.count()
      val (flat, rddId) =
        org.apache.spark.sql.graft.ColumnBridge.flattenToCachedScan(p)
      disk2Pins.put(rddId, p)
      flat
    case other => throw new IllegalArgumentException(
      s"$ConfKey must be local | reliable | disk2, got '$other'")
  }

  /** Free a pinned frame's storage once a later round supersedes it.
    * Safe on any frame — including frames DERIVED from a pinned one
    * (`pin(x).select(...)`): the plan walk finds every LogicalRDD scan
    * inside. Checkpointed frames free their block-manager RDD blocks;
    * disk2 frames release the backing CacheManager entry through the
    * registry. Reliable-checkpoint FILES are left for the ContextCleaner
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`) or
    * checkpoint-dir cleanup — they are the recovery source and cost no
    * executor memory.
    */
  def unpin(df: DataFrame): Unit = {
    org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(df)
    org.apache.spark.sql.graft.ColumnBridge.logicalRddIds(df).foreach { id =>
      disk2Pins.remove(id).foreach(_.unpersist(blocking = false))
    }
    df.unpersist(blocking = false)
  }
}
