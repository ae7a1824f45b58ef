package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Loaders for the driver corpus (TESTDATA.md): TPC-H-ish star schema +
  * `events` + `documents` + `embeddings`, one parquet per table under
  * `/root/testdata/sf{0.001,0.01,0.1}/`.
  *
  * All engine queries read through here so that filter/projection pushdown
  * reaches the parquet scan (verify with `.explain("formatted")` →
  * `PushedFilters` / `ReadSchema`).
  *
  * Key convention: every table's FIRST column is its key (`r_regionkey`,
  * `c_custkey`, `o_orderkey`, `event_id`, `doc_id`, …; for lineitem
  * `l_orderkey`, the order/isolate key its rows join and group on), and
  * the session cache hash-partitions each table on it. The cached relation
  * then reports `HashPartitioning(key, defaultParallelism)` (under AQE, once
  * the cache has run), so an aggregation on the key, or a join with another
  * table cached on the same key, plans no exchange over the cached scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // Session-scoped table cache. The corpus files are written as a SINGLE
  // parquet row group each, so an uncached scan is serial no matter how
  // maxPartitionBytes is set — every query would pay a ~1 s single-threaded
  // decode of lineitem. Caching once per (session, dir, table) is the same
  // posture as the reference's scheme/dataset caches; disable with
  // SPARK_GRAFT_NO_CACHE=1 (e.g. when inputs exceed cluster memory).
  // SessionMemo.cached registers the table again after a clearCache().
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (sys.env.contains("SPARK_GRAFT_NO_CACHE")) loadUncached(spark, dir, name)
    else SessionMemo.cached(spark, "tables", s"$dir|$name") {
      // repartition before caching: the cache preserves partitioning,
      // and a one-row-group file is one partition — without this, every
      // cached scan would still be serial. One shuffle at
      // materialization buys full-width parallelism for every later
      // query; hashing it on the key lets key joins and aggregations
      // reuse it, and needs no per-partition sort to make retries
      // deterministic (spark.sql.execution.sortBeforeRepartition).
      val df = loadUncached(spark, dir, name)
      df.repartition(spark.sparkContext.defaultParallelism, col(df.columns.head))
    }

  /** Direct parquet read, no session cache — the path a cluster job over
    * data that exceeds memory uses; filter/projection pushdown reaches the
    * parquet scan here (asserted by PlanSpec).
    */
  def loadUncached(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark rejects by default;
    // read it as epoch-nanos long and truncate to micros (what the DuckDB
    // oracle does when it reads the same file).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) if name == "events" =>
        // integer div, not `/` (double): epoch-nanos exceed double's 53-bit
        // exact range, so float division can land 1µs off the oracle's
        // integer truncation
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) if name == "events" =>
        // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
        // TIMESTAMP_NTZ; downstream epoch arithmetic (unix_micros) wants
        // TIMESTAMP. The session timezone is pinned to UTC everywhere
        // (Verify/Bench/SparkSpec), so the cast maps wall time to the
        // identical epoch micros DuckDB's epoch_ns(ts)//1000 produces.
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Register every corpus table as a temp view (for spark.sql paths). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
