package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one session artifact cache. Every value the engine keeps past a
  * single call — cached corpus tables, profile warehouses, trained models,
  * persisted index stores, skipping layouts — is an entry here, one per
  * (session, namespace, key). The reference gives each materialized cache
  * one lifecycle (built, refreshed, dropped); this is that lifecycle:
  *
  *   - `build` runs once per entry, by the first caller and outside the
  *     map lock, so a build may look up other entries and run Spark jobs
  *     without blocking unrelated keys; concurrent callers of the same
  *     key wait for that one build;
  *   - a build that throws leaves no entry, and the next call rebuilds;
  *   - when the owning SparkContext stops, its entries are dropped and the
  *     directories made for it by [[tempPath]] are deleted — during the
  *     stop, not inside the next session's first query.
  */
object SessionMemo {

  private final class Slot {
    private[this] var value: Any = _
    private[this] var built = false
    def get(build: => Any): Any = synchronized {
      if (!built) { value = build; built = true }
      value
    }
  }

  /** One SparkContext's entries and the directories made for it. */
  private final class Store {
    val entries = new ConcurrentHashMap[(String, String, String), Slot]()
    val dirs = new ConcurrentLinkedQueue[Path]()
  }

  private val stores = new ConcurrentHashMap[SparkContext, Store]()

  private def store(sc: SparkContext): Store = {
    val st = stores.computeIfAbsent(sc, _ => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          release(sc)
      })
      new Store
    })
    // a context stopped before its listener was added never notifies it
    if (sc.isStopped) release(sc)
    st
  }

  private def release(sc: SparkContext): Unit =
    Option(stores.remove(sc)).foreach(_.dirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)))

  private def sessionId(spark: SparkSession): String =
    org.apache.spark.sql.graft.ColumnBridge.sessionUUID(spark)

  /** The session's entry for (`namespace`, `key`), built by `build` on
    * first use. Each call site owns its namespace (and with it the value
    * type); the key carries whatever else identifies the value.
    */
  def apply[T](spark: SparkSession, namespace: String, key: String)(
      build: => T): T = {
    val entries = store(spark.sparkContext).entries
    val k = (sessionId(spark), namespace, key)
    val slot = entries.computeIfAbsent(k, _ => new Slot)
    try slot.get(build).asInstanceOf[T]
    catch { case t: Throwable => entries.remove(k, slot); throw t }
  }

  /** A memoized frame served from the CacheManager: the entry keeps the
    * uncached frame `build` returns, and every call registers it again
    * when its cache entry is gone. `spark.catalog.clearCache()` drops
    * CacheManager entries but not memos; without the re-registration a
    * memo would keep serving an unregistered frame, and every later
    * query would recompute the whole build inline.
    */
  def cached(spark: SparkSession, namespace: String, key: String)(
      build: => DataFrame): DataFrame =
    register(apply(spark, namespace, key)(build))

  /** `df`, cached in the CacheManager again if its entry is gone — the
    * re-registration of [[cached]], for a memo that holds several frames
    * in one value.
    */
  def register(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.cache() else df

  /** Drops every session's entries in `namespace` whose key starts with
    * `prefix`, except the key `keep`: invalidation when an artifact is
    * (re)published under keys other sessions may already hold.
    */
  def dropPrefix(namespace: String, prefix: String,
      keep: Option[String] = None): Unit =
    stores.values.forEach(_.entries.keySet.removeIf { case (_, ns, k) =>
      ns == namespace && k.startsWith(prefix) && !keep.contains(k)
    })

  /** How many of this session's entries in `namespace` have a key
    * starting with `prefix`.
    */
  def countPrefix(spark: SparkSession, namespace: String, prefix: String): Int =
    count(spark) { case (_, ns, k) => ns == namespace && k.startsWith(prefix) }

  /** Every entry this session holds, in any context's store. */
  private[graft] def size(spark: SparkSession): Int = count(spark)(_ => true)

  private def count(spark: SparkSession)(
      p: ((String, String, String)) => Boolean): Int = {
    val id = sessionId(spark)
    var n = 0
    stores.values.forEach(_.entries.keySet.forEach(k =>
      if (k._1 == id && p(k)) n += 1))
    n
  }

  /** A fresh path that does not exist yet, inside a new `graft-<label>-*`
    * directory under `java.io.tmpdir` that is deleted when the session's
    * context stops. Memo builds put their stores here and per-call sinks
    * their output, so no two calls — in this JVM or another — share a
    * directory.
    */
  def tempPath(spark: SparkSession, label: String): String = {
    val st = store(spark.sparkContext)
    val d = Files.createTempDirectory(s"graft-$label-")
    st.dirs.add(d)
    d.resolve(label).toString
  }
}
