package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** G4 scale probe: times both LIN-assignment paths at growing PROFILE
  * counts. The corpus-replication slices (/tmp/scale10, /tmp/scale100)
  * symlink lineitem, so the scale axis for this operator is the profile
  * cap, not the slice: caps 300 / 3000 / 30000 grow the assigned set
  * 10×/100× over the fixture queries' wh(s, dir, 300).
  *
  * Prints one JSON line per (cap, path) with wall seconds, assigned
  * count, and post-GC used driver heap — the evidence for the
  * "driver memory O(assigned profiles)" claim: the incremental path
  * holds only codes + one batch of argmax triples; the PRIM path's
  * O(n²) triangle leaves the JVM heap above 16384 profiles
  * (Clustering.MmapTri), so used-heap stays flat while wall grows with
  * the inherent O(n²·L) distance work (which runs in Spark).
  *
  * usage: ScaleProbeG4 <sfDir> [caps,comma-separated]
  */
object ScaleProbeG4 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val caps = (if (args.length > 1) args(1) else "300,3000,30000")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def usedHeapMb(): Long = {
      System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) >> 20
    }
    // one full build filtered per cap: the probe times the assignment,
    // not a warehouse build per cap
    def wh(cap: Int) = queries.ProfileQueries.wh(spark, sfDir)
      .filter(col("l_orderkey") < cap)
    caps.foreach { cap =>
      val w = wh(cap)
      Seq(
        "incremental" ->
          (() => graft.operators.Clustering.assignLinCodes(
            w, "l_orderkey", Seq(30.0, 60.0, 90.0))),
        "prim" ->
          (() => graft.operators.Clustering.assignLinCodesBulk(
            w, "l_orderkey", Seq(30.0, 60.0, 90.0)))
      ).foreach { case (path, run) =>
        val h0 = usedHeapMb()
        val t0 = System.nanoTime()
        val n = run().count()
        val secs = (System.nanoTime() - t0) / 1e9
        val h1 = usedHeapMb()
        println(f"""{"op":"g4_$path%s","cap":$cap%d,"assigned":$n%d,"sec":$secs%.3f,"used_heap_mb_before":$h0%d,"used_heap_mb_after":$h1%d}""")
      }
    }
    spark.stop()
  }
}
