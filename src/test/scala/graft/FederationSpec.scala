package graft

import graft.sources.Federation
import org.apache.spark.sql.functions._

class FederationSpec extends SparkSpec {
  import spark.implicits._

  private def tmpLive(name: String): String = {
    val d = tempDir("graft-fed").toString
    s"$d/$name"
  }

  test("replicateDimension publishes atomically and readers see full snapshots") {
    val live = tmpLive("dim")
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Federation.replicateDimension(v1, live)
    val r1 = Federation.readDimension(spark, live)
    assert(rows(r1.orderBy("id")) == Seq(Seq(1L, "a"), Seq(2L, "b")))

    // second replication cycle: pointer advances, readers see the new
    // snapshot; content replaced wholesale (snapshot, not merge)
    val v2 = Seq((1L, "a2"), (3L, "c")).toDF("id", "v")
    Federation.replicateDimension(v2, live)
    val r2 = Federation.readDimension(spark, live)
    assert(rows(r2.orderBy("id")) == Seq(Seq(1L, "a2"), Seq(3L, "c")))
  }

  test("a reader planned before the swap still scans its COMPLETE old " +
      "snapshot (N-1 retention)") {
    val live = tmpLive("dim_inflight")
    Federation.replicateDimension(
      Seq((1L, "old"), (2L, "old")).toDF("id", "v"), live)
    // reader resolves the pointer NOW; the plan is lazy — the scan runs
    // only after the swap below (the Datastore.pm rename-swap hazard:
    // its drop-and-rename would yank the table out from under this scan)
    val inflight = Federation.readDimension(spark, live)
    Federation.replicateDimension(
      Seq((1L, "new"), (3L, "new")).toDF("id", "v"), live)
    assert(rows(inflight.orderBy("id")) ==
      Seq(Seq(1L, "old"), Seq(2L, "old")),
      "in-flight reader must finish against the version it resolved")
    assert(rows(Federation.readDimension(spark, live).orderBy("id")) ==
      Seq(Seq(1L, "new"), Seq(3L, "new")))
  }

  test("concurrent readers during a swap see exactly old-or-new, never " +
      "partial") {
    val live = tmpLive("dim_concurrent")
    val nRows = 64
    def snapshot(tag: String) =
      spark.range(nRows).select(col("id"), lit(tag).as("v"))
    Federation.replicateDimension(snapshot("old"), live)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        // resolve + full scan, exactly the query-layer read path; an
        // exception IS a finding (a torn read manifests as a failed
        // scan, not only as mixed content) — record it, don't die
        try {
          val got = Federation.readDimension(spark, live)
            .select(col("v")).distinct().collect().map(_.getString(0)).toSet
          val n = Federation.readDimension(spark, live).count()
          if (!(got == Set("old") || got == Set("new")))
            bad.add(s"mixed snapshot: $got")
          if (n != nRows) bad.add(s"partial snapshot: $n rows")
          reads.incrementAndGet()
        } catch {
          case e: Throwable => bad.add(s"reader scan failed: $e")
        }
      }
    })
    reader.start()
    // let the reader complete at least one scan before racing it, so the
    // reads > 0 assertion never depends on scheduler luck under load
    val deadline = System.currentTimeMillis() + 30000
    while (reads.get() == 0 && bad.isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    try {
      // several refresh cycles racing the reader; alternate content so a
      // torn read would surface as a mixed tag set
      for (i <- 1 to 4) {
        Federation.replicateDimension(
          snapshot(if (i % 2 == 0) "old" else "new"), live)
      }
    } finally { stop.set(true); reader.join(30000) }
    assert(bad.isEmpty, s"torn reads: ${bad.toArray.mkString("; ")}")
    assert(reads.get() > 0, "reader thread never completed a scan")
  }

  test("schemeDimension carries st (min entity), profile and missing_loci") {
    val wh = Seq(
      (10L, Seq("1", "2", "0"), "m1"),
      (11L, Seq("1", "2", "0"), "m1"),
      (12L, Seq("0", "0", "5"), "m2"))
      .toDF("iso", "profile", "profile_md5")
    val dim = Federation.schemeDimension(wh, "iso")
      .orderBy("st")
      .select("st", "missing_loci")
    assert(rows(dim) == Seq(Seq(10L, 1), Seq(12L, 2)))
  }
}
