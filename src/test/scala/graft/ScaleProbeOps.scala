package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for operators whose 100× runs are too long for the bench
  * harness's full-sweep discipline, plus the documented scale-path
  * VARIANTS of fixture-capped queries:
  *
  *  - any name in SparkEntry.queries → that query
  *  - `sim_dbscan_lsh` → DBSCAN over Similarity.lshNearDupPairs on the
  *    FULL embeddings table (the operator contract's 100 TB pair
  *    source; the bench's sim_dbscan runs exact all-pairs behind its
  *    500-vector fixture cap, which the slice's vec_id relabeling
  *    does not grow)
  *  - `sim_nn_descent_scaled` / `sim_components_scaled` → the graph
  *    builds as DIRECT operator calls (no session memo), so both timed
  *    runs pay the full build — the honest build-cost number for ops
  *    whose SparkEntry queries memoize the seed/graph per session
  *  - `minhash_crossover_<n>` → `Dedup.minhashLsh`'s local and
  *    distributed paths on n synthetic documents, with the collected
  *    signature rows' retained heap: the sizing of
  *    `Crossover.MinhashCells`
  *
  * Timing discipline (inherits Bench.scala's guard, r11 VERDICT #3): every
  * probe runs TWICE with a System.gc() between; the reported `sec` is the
  * min and both raw runs are emitted (`sec1`/`sec2`) so a sweep-context
  * outlier (one 100× probe run measured 7.7× its re-run) can neither
  * inflate a row nor hide behind an unmarked re-run. CAVEAT printed per
  * row: SparkEntry queries with session memos (the similarity-graph
  * family caches its seed per (session, dir)) are warm on run 2 — for
  * those, `sec1` is the cold build number and the `_scaled` direct
  * variants are the memo-free measurement.
  *
  * usage: ScaleProbeOps <sfDir> <name>[,name...]
  */
object ScaleProbeOps {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    def dbscanLsh() = {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val pairs = graft.pipeline.Similarity.lshNearDupPairs(
        emb, "vec_id", "embedding", dim = 64, minCos = 0.35,
        bits = 16, tables = 4)
      graft.pipeline.Similarity.dbscan(emb, pairs, "vec_id", minPts = 2)
    }
    // nn_descent via the operator DEFAULT (nlist = AutoNlist, constant
    // ~64-vector cells — the r11 fixture-tuned nlist=32 knee is gone from
    // the default path; see Similarity.autoNlist). Direct call, no cached
    // seed: both timed runs pay the full seed + descent build.
    def nnDescentScaled() = {
      val emb = Tables.load(spark, sfDir, "embeddings")
      // forced distributed: the probe measures the DISTRIBUTED loop's
      // scaling — the driver-local crossover would otherwise absorb the
      // 1x slice and skew the exponent's denominator
      graft.operators.Crossover.distributed(
        graft.pipeline.Similarity.nnDescent(emb, "vec_id", "embedding",
          k = 5, nprobe = 3, maxRounds = 12, delta = 0.0))
    }
    // sim_components via the operator DEFAULT (auto-sized coarse index),
    // direct call — no session graph memo, full build in every timed run.
    def componentsScaled() = {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val g = graft.operators.Pinning.pin(
        graft.pipeline.Similarity.mutualKnnGraph(
          emb, "vec_id", "embedding", k = 5, nprobe = 3))
      val cc = graft.operators.Clustering.connectedComponents(
        g.select(col("id1").as("src"), col("id2").as("dst")))
        .select(col("node").as("vec_id"), col("component"))
      cc
    }
    // mm_phash_dct over the FULL documents table (the CORRECTNESS row
    // caps at 96 base docs + twins for oracle cost): one 64×64 raster
    // per doc, the integer DCT kernel per partition, then the 4×15
    // banded join — measures the real per-raster transform + signature
    // shuffle with ~zero output pairs (random rasters don't collide).
    def phashDctScaled() = {
      val ids = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("doc_id").as("seed"))
      graft.pipeline.Multimodal.phashDctPairs(
        graft.pipeline.Multimodal.syntheticRaster(
          ids, "doc_id", "seed", 64, 64, brightness = 0),
        "doc_id", rowBytes = 64)
    }
    // dedup_substring_remove under the OPERATOR-DEFAULT xxhash64 hasher
    // (the CORRECTNESS query ships the md5-portable hasher so DuckDB can
    // replay it; the 100 TB path hashes 2x corpus-windows, so the
    // codegen hash is the shipped default — this variant measures it).
    def substringRemoveFast() = {
      val docs = Tables.load(spark, sfDir, "documents")
      graft.pipeline.Dedup.substringDedup(docs, "doc_id", "text",
        minLen = 40)
    }
    // the SAMPLED mode (robust winnowing, w = 8): detection guaranteed
    // for dup regions >= minLen + 7, duplicate detection over ~2/8 of
    // the positions — the documented fast path for the 100x cost of the
    // exact stride-1 sweep (DedupSpec pins the guarantee; the
    // CORRECTNESS row keeps the exact form).
    def substringRemoveWinnow() = {
      val docs = Tables.load(spark, sfDir, "documents")
      graft.pipeline.Dedup.substringDedup(docs, "doc_id", "text",
        minLen = 40, winnow = 8)
    }
    // pack_epoch_shuffle over NON-dense ids (the scale slices relabel
    // doc_id*1000+i): densify with runningBySort's two-phase numbering,
    // then the zero-shuffle Feistel projection — the realistic path for a
    // corpus without a precomputed dense index (one range exchange more
    // than the dense fast path the CORRECTNESS query exercises).
    def epochShuffleScaled() = {
      val docs = Tables.load(spark, sfDir, "documents")
      val n = docs.count()
      val dense = graft.operators.Numbering.numberBySort(
        docs.select(col("doc_id")), "doc_id", "idx")
        .select(col("doc_id"), (col("idx") - 1L).as("idx"))
      dense.select(col("doc_id"), col("idx"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
        .select(col("doc_id"), col("epoch"),
          graft.functions.Feistel.permuteCol(
            col("idx"), col("epoch"), n, 77L).as("pos"))
    }
    // WORK counters (r11 VERDICT #4): the ROWS an operator actually
    // processes per scale, so an exponent computed on overhead-dominated
    // sub-second walls can't masquerade as superlinear work (the
    // dedup_prefix_join candidate-count discipline). Each prints its own
    // JSON line of counts; no timing.
    def workMinhash(): String = {
      val docs = Tables.load(spark, sfDir, "documents")
      val sigs = graft.operators.Pinning.pin(
        graft.pipeline.Dedup.minhashSigsOf(docs, "doc_id", "text", 2, 64,
          graft.functions.Vectors.ShingleHash.Md5Portable))
      val banded = graft.pipeline.Dedup.minhashBandedOf(sigs, 16, 4)
      val sizes = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2 && col("n") <= 1000)
      val expanded = sizes
        .agg(sum(expr("n * (n - 1) div 2"))).head().getLong(0)
      val ok = banded.join(sizes.select("band", "bucket"),
        Seq("band", "bucket"))
      val candidates = ok.as("a").join(ok.as("b"),
          col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.__id") < col("b.__id"))
        .select(col("a.__id"), col("b.__id")).distinct().count()
      val pairs = graft.pipeline.Dedup.minhashLsh(docs, "doc_id", "text",
        shingleN = 2, k = 64, bands = 16, minEstJaccard = 0.1,
        hasher = graft.functions.Vectors.ShingleHash.Md5Portable)
      val result = pairs.count()
      graft.operators.Pinning.unpin(pairs)
      graft.operators.Pinning.unpin(sigs)
      s""""expanded_bucket_pairs":$expanded,"distinct_candidates":$candidates,"result_pairs":$result"""
    }
    def workIvfPq(): String = {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val cents = graft.pipeline.Similarity.kmeansTrain(
        emb, "vec_id", "embedding", k = 8, dim = 64, iters = 2)
      val (centroids, assigned) = graft.pipeline.Similarity.ivfIndexFrames(
        emb, "vec_id", "embedding", 8, Some(cents))
      val probes = graft.pipeline.Similarity.probeCells(
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", centroids, 3)
      val scored = probes.join(assigned, Seq("list_id")).count()
      val n = emb.count()
      s""""assigned_rows":$n,"scored_candidates":$scored"""
    }
    // Prune-DECISION latency vs FILE COUNT (r12 VERDICT #7): the
    // skipping layer only wins if deciding which of ~800k files survive
    // is itself cheap — otherwise the decision eats the skipped tasks.
    // `prune_decision_real_<N>` writes a real N-file layout from the
    // documents corpus and times the zone + Bloom decisions end-to-end
    // against the published artifacts; `prune_decision_synth_<N>`
    // scales N to target-cardinality (100k/800k) by synthesizing the
    // stats tables directly — sound because the decision consults ONLY
    // the stats artifacts, never the files (16 keys/file keeps the
    // synthetic Bloom's per-file word density fixed, so the measured
    // axis is file count). Timing: min-of-2 with a GC between, both
    // runs emitted (the BENCH_SCALE discipline).
    def timed2[T](fn: () => T): (T, Double, Double) = {
      val t0 = System.nanoTime()
      val r1 = fn()
      val s1 = (System.nanoTime() - t0) / 1e9
      System.gc()
      val t1 = System.nanoTime()
      fn()
      val s2 = (System.nanoTime() - t1) / 1e9
      (r1, s1, s2)
    }
    // the decision functions pruneForClauses itself calls: run 1 pays
    // the version's first load (schema inference and, for the Bloom,
    // its constants aggregation), run 2 is the warm per-query decision
    def decisionJson(base: String, zoneRanges: Seq[graft.sources.ZoneMaps.ColRange],
        bloomKeys: Seq[String]): String = {
      import graft.sources.ZoneMaps
      val (zk, z1, z2) = timed2(() => ZoneMaps.decideZones(
        ZoneMaps.loadStats(spark, s"$base/stats"), zoneRanges, Nil).kept.size)
      val (bk, b1, b2) = timed2(() => ZoneMaps.loadArtifact(spark,
        s"$base/bloom").map(a => ZoneMaps.decideBlooms(a.table, a.bloom.get,
          Seq(bloomKeys)).head.size).get)
      f""""zone_sec":${math.min(z1, z2)}%.3f,"zone_sec1":$z1%.3f,"zone_sec2":$z2%.3f,"zone_kept":$zk%d,"bloom_sec":${math.min(b1, b2)}%.3f,"bloom_sec1":$b1%.3f,"bloom_sec2":$b2%.3f,"bloom_kept":$bk%d,"mode":"min2-post-gc""""
    }
    def pruneDecisionReal(nFiles: Int): String = {
      val base = java.nio.file.Files.createTempDirectory("graft-prunef")
        .toString
      Tables.load(spark, sfDir, "documents")
        .repartitionByRange(nFiles, col("n_chars"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$base/data")
      graft.sources.ZoneMaps.saveStats(graft.sources.ZoneMaps.buildStats(
        spark.read.parquet(s"$base/data"), Seq("n_chars")), s"$base/stats")
      graft.sources.ZoneMaps.saveStats(graft.sources.ZoneMaps
        .buildBloomStats(spark.read.parquet(s"$base/data"), "doc_id"), s"$base/bloom")
      s""""files":$nFiles,""" + decisionJson(base,
        Seq(graft.sources.ZoneMaps.ColRange("n_chars", 150, 300)),
        Seq("7", "123", "401"))
    }
    def pruneDecisionSynth(nFiles: Long): String = {
      val base = java.nio.file.Files.createTempDirectory("graft-prunes")
        .toString
      val rowsPerFile = 16L
      val stats = spark.range(nFiles).select(
        format_string("f%09d", col("id")).as("file"),
        lit(rowsPerFile).as("rows"),
        (col("id") * rowsPerFile).as("min_v"),
        (col("id") * rowsPerFile + rowsPerFile - 1).as("max_v"))
      graft.sources.ZoneMaps.saveStats(stats, s"$base/stats")
      val keys = spark.range(nFiles * rowsPerFile).select(
        format_string("f%09d", (col("id") / rowsPerFile).cast("long"))
          .as("file"),
        col("id").cast("string").as("__key"))
      val m = graft.sources.ZoneMaps.autoBits(nFiles * rowsPerFile, nFiles)
      // a target-scale bloom table is tens of millions of word rows —
      // publish it word_idx-CLUSTERED (saveBloomStats) so the probe's
      // pre-filter prunes files/row-groups instead of scanning the
      // whole artifact (2.7 s single-file / 1.2 s unclustered measured)
      graft.sources.ZoneMaps.saveBloomStats(
        graft.sources.ZoneMaps.bloomStatsOf(keys, m, 3), s"$base/bloom",
        numFiles = 32)
      // ~0.1% of the value domain for zones; 3 point keys for the Bloom
      val hi = math.max(rowsPerFile, nFiles / 1000 * rowsPerFile)
      s""""files":$nFiles,""" + decisionJson(base,
        Seq(graft.sources.ZoneMaps.ColRange("v", 0, hi)),
        Seq("7", (nFiles * rowsPerFile / 2).toString,
          (nFiles * rowsPerFile - 1).toString))
    }
    // MinHash crossover sizing: n synthetic documents of 50 words from a
    // 5,000-word vocabulary, every 10th a near copy of the next one (its
    // first word differs), pinned in `cpus` partitions like a Tables.load
    // cache; dedup_minhash_lsh's parameters. The local path is called
    // with an unbounded budget so it runs at every n, the distributed
    // path under Crossover.distributed. Each path: min of 2 post-GC runs,
    // plus the peak heap in use during the run over the post-GC baseline
    // (sampled every 2 ms, so it includes garbage not yet collected).
    def minhashCrossover(n: Long): String = {
      import graft.pipeline.Dedup
      import graft.functions.Vectors.ShingleHash
      val src = when(col("id") % 10 === 0, col("id") + 1).otherwise(col("id"))
      val docs = graft.operators.Pinning.pin(spark.range(n)
        .repartition(cpus.toInt, col("id"))
        .select(col("id").as("doc_id"), concat_ws(" ", transform(
          sequence(lit(0), lit(49)), i => concat(lit("w"), pmod(xxhash64(
            when(i === 0, col("id")).otherwise(src), i), lit(5000L))
            .cast("string")))).as("text")))
      val (k, bands) = (64, 16)
      def local() = {
        val sigs = Dedup.minhashSigsOf(docs, "doc_id", "text", 2, k,
          ShingleHash.Md5Portable)
        Dedup.minhashPairsLocal(sigs, org.apache.spark.sql.types.LongType,
          k, bands, k / bands, 0.1, 1000, Long.MaxValue - 1).get.count()
      }
      def distributed() = graft.operators.Crossover.distributed {
        val r = Dedup.minhashLsh(docs, "doc_id", "text", shingleN = 2, k = k,
          bands = bands, minEstJaccard = 0.1, hasher = ShingleHash.Md5Portable)
        val c = r.count()
        graft.operators.Pinning.unpin(r)
        c
      }
      def run(fn: () => Long): (Long, Double, Long) = {
        val rt = Runtime.getRuntime
        System.gc()
        val base = rt.totalMemory - rt.freeMemory
        @volatile var peak = base
        @volatile var on = true
        val sampler = new Thread(() => while (on) {
          peak = math.max(peak, rt.totalMemory - rt.freeMemory)
          Thread.sleep(2)
        })
        sampler.setDaemon(true)
        sampler.start()
        val t0 = System.nanoTime()
        val c = fn()
        val sec = (System.nanoTime() - t0) / 1e9
        on = false
        sampler.join()
        (c, sec, (peak - base) >> 20)
      }
      def json(tag: String, fn: () => Long): String = {
        val (c, s1, h1) = run(fn)
        val (_, s2, h2) = run(fn)
        f""""${tag}_pairs":$c%d,"${tag}_sec":${math.min(s1, s2)}%.3f,"${tag}_sec1":$s1%.3f,"${tag}_sec2":$s2%.3f,"${tag}_peak_heap_mb":${math.max(h1, h2)}%d"""
      }
      // what the local path holds on the driver: the collected boxed Rows
      val rowsMb = {
        val rt = Runtime.getRuntime
        System.gc()
        val base = rt.totalMemory - rt.freeMemory
        val got = graft.operators.Crossover.take(Dedup.minhashSigsOf(docs,
          "doc_id", "text", 2, k, ShingleHash.Md5Portable),
          Long.MaxValue - 1, "__id").get
        System.gc()
        val held = rt.totalMemory - rt.freeMemory - base
        f"${held / 1048576.0}%.1f,\"row_bytes\":${held / got.length}"
      }
      val out = s""""n":$n,"cells":${n * k},"rows_mb":$rowsMb,""" +
        json("local", () => local()) + "," +
        json("distributed", () => distributed())
      graft.operators.Pinning.unpin(docs)
      out
    }
    names.foreach { name =>
      if (name.startsWith("prune_decision_real_")) {
        val n = name.stripPrefix("prune_decision_real_").toInt
        println(s"""{"op":"prune_decision_real",${pruneDecisionReal(n)},"sf":"$sfDir"}""")
      } else if (name.startsWith("prune_decision_synth_")) {
        val n = name.stripPrefix("prune_decision_synth_").toLong
        println(s"""{"op":"prune_decision_synth",${pruneDecisionSynth(n)},"sf":"$sfDir"}""")
      } else if (name.startsWith("minhash_crossover_")) {
        val n = name.stripPrefix("minhash_crossover_").toLong
        println(s"""{"op":"minhash_crossover",${minhashCrossover(n)},"mode":"min2-post-gc","sf":"$sfDir"}""")
      } else if (name.startsWith("explain_")) {
        // plan-stability probe (r13 "what's wrong" #1): md5 of the
        // FINAL plan string for a SparkEntry query, so two separate
        // JVM windows can prove a flagged query's plan did not flap
        // (broadcast-threshold / AQE re-plan) between them — identical
        // hashes mean a wall-time delta is ambient, not a plan change.
        // The plan is hashed AFTER execution: under AQE the unexecuted
        // executedPlan is only the INITIAL AdaptiveSparkPlan, and a
        // runtime re-plan (broadcast flip on runtime stats) would be
        // invisible to the hash — two sessions could report identical
        // md5 while executing different final plans. Driving the same
        // QueryExecution's RDD to completion finalizes the adaptive
        // plan, so the hash covers what actually ran. Node ids /
        // exchange ids are normalized out (they differ per session
        // without any plan difference).
        val q = name.stripPrefix("explain_")
        val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
        qe.executedPlan.execute().count()
        val plan = qe.executedPlan.toString
          .replaceAll("#\\d+", "#N").replaceAll("\\[id=#?\\d+\\]", "[id=N]")
          .replaceAll("plan_id=\\d+", "plan_id=N")
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(plan.getBytes("UTF-8")).map("%02x".format(_)).mkString
        // SPARK_GRAFT_EXPLAIN_FULL=1: dump the normalized plan to
        // stderr for human audit (the stdout JSON stays machine-stable)
        if (sys.env.contains("SPARK_GRAFT_EXPLAIN_FULL"))
          System.err.println(s"== $name ==\n$plan")
        println(s"""{"op":"$name","plan_md5":"$h","plan_lines":${
          plan.linesIterator.size},"sf":"$sfDir"}""")
      } else if (name.startsWith("work_")) {
        val counts = name match {
          case "work_minhash_lsh" => workMinhash()
          case "work_ivfpq" => workIvfPq()
          case other => sys.error(s"unknown work probe: $other")
        }
        println(s"""{"op":"$name",$counts,"sf":"$sfDir"}""")
      } else if (name == "sim_components_phases") {
        // phase breakdown of the sim_components_scaled cost (r14 VERDICT
        // Next-round #6): where does the 100x knee live — the corpus×
        // centroid ASSIGNMENT flops (n·nlist·d, quadratic/64 under
        // constant-cell AutoNlist), the query-side PROBE pick (same
        // shape), the per-cell candidate SCORING join, or the
        // mutuality/components tail? Each phase forces its frame once.
        import graft.pipeline.Similarity
        def f2(v: Double): String = f"$v%.3f"
        val emb = Tables.load(spark, sfDir, "embeddings")
        val n = emb.count()
        val nl = Similarity.autoNlist(n)
        def timed(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime()
          val r = f
          (r, (System.nanoTime() - t0) / 1e9)
        }
        // Pinning.pin (localCheckpoint) is EAGER — each phase's cost is
        // the pin itself, so the timer wraps pin + count together
        val (centroids, assigned0) =
          Similarity.ivfIndexFrames(emb, "vec_id", "embedding", nl)
        var assigned: org.apache.spark.sql.DataFrame = null
        val (na, tAssign) = timed {
          assigned = graft.operators.Pinning.pin(assigned0)
          assigned.count()
        }
        var probes: org.apache.spark.sql.DataFrame = null
        val (np, tProbe) = timed {
          probes = graft.operators.Pinning.pin(
            Similarity.probeCells(emb, "vec_id", "embedding", centroids, 3))
          probes.count()
        }
        var edges: org.apache.spark.sql.DataFrame = null
        val (ne, tScore) = timed {
          edges = graft.operators.Pinning.pin(
            Similarity.ivfScoreTopK(centroids, assigned, emb, "vec_id",
              "embedding", k = 5, nprobe = 3)
              .select(col("query_id"), col("neighbor_id"), col("cos"),
                col("rank")))
          edges.count()
        }
        var g: org.apache.spark.sql.DataFrame = null
        val (ng, tMutual) = timed {
          val rev = edges.select(col("neighbor_id").as("query_id"),
            col("query_id").as("neighbor_id"), col("rank").as("rank2"))
          g = graft.operators.Pinning.pin(
            edges.join(rev, Seq("query_id", "neighbor_id"))
              .filter(col("query_id") < col("neighbor_id"))
              .select(col("query_id").as("src"),
                col("neighbor_id").as("dst")))
          g.count()
        }
        val (nc, tCc) = timed(graft.operators.Clustering
          .connectedComponents(g).count())
        Seq(assigned, probes, edges, g).foreach(graft.operators.Pinning.unpin)
        println(s"""{"op":"$name","n":$n,"nlist":$nl,"assign_rows":$na,"assign_sec":${f2(tAssign)},"probe_rows":$np,"probe_sec":${f2(tProbe)},"edge_rows":$ne,"score_sec":${f2(tScore)},"mutual_rows":$ng,"mutual_sec":${f2(tMutual)},"cc_rows":$nc,"cc_sec":${f2(tCc)},"sf":"$sfDir"}""")
      } else if (name == "dedup_substring_append") {
        // delta-only-cost evidence for the persisted ExactSubstr index:
        // the base build is UNTIMED (it is the one-off per corpus); the
        // timed step is appendSubstr of a ~1% ingest batch. The append
        // pays the DELTA's window sweep (the text-expensive part) plus
        // a text-free per-hash stats merge that scales with the INDEX
        // (16-byte rows), not the corpus text — the appendMinhash
        // re-banding posture. Each timing gets a fresh-built index
        // (append mutates the artifact; re-appending the same ids
        // would violate the unique-id contract).
        val docs = Tables.load(spark, sfDir, "documents")
        val base = docs.filter(col("doc_id") % 101 =!= 0)
        val delta = docs.filter(col("doc_id") % 101 === 0)
        def once(): Double = {
          val p = java.nio.file.Files.createTempDirectory("graft-sxp")
            .toString + "/sx"
          graft.pipeline.IndexStore.saveSubstr(base, "doc_id", "text",
            minLen = 40, livePath = p, winnow = 8)
          System.gc()
          val t0 = System.nanoTime()
          graft.pipeline.IndexStore.appendSubstr(base, delta, "doc_id",
            "text", minLen = 40, livePath = p, winnow = 8)
          (System.nanoTime() - t0) / 1e9
        }
        val s1 = once()
        val s2 = once()
        val sec = math.min(s1, s2)
        val nd = delta.count()
        println(f"""{"op":"$name%s","rows":$nd%d,"sec":$sec%.3f,"sec1":$s1%.3f,"sec2":$s2%.3f,"mode":"min2-fresh-index","sf":"$sfDir%s"}""")
      } else {
      val fn: () => org.apache.spark.sql.DataFrame =
        if (name == "sim_dbscan_lsh") () => dbscanLsh()
        else if (name == "sim_nn_descent_scaled") () => nnDescentScaled()
        else if (name == "pack_epoch_shuffle_scaled") () => epochShuffleScaled()
        else if (name == "mm_phash_dct_scaled") () => phashDctScaled()
        else if (name == "dedup_substring_fast") () => substringRemoveFast()
        else if (name == "dedup_substring_winnow") () => substringRemoveWinnow()
        else if (name == "sim_components_scaled") () => componentsScaled()
        else () => SparkEntry.queries(name)(spark, sfDir)
      def once(): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = fn().queryExecution.toRdd.count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val (n1, s1) = once()
      System.gc()
      val (_, s2) = once()
      val sec = math.min(s1, s2)
      println(f"""{"op":"$name%s","rows":$n1%d,"sec":$sec%.3f,"sec1":$s1%.3f,"sec2":$s2%.3f,"mode":"min2-post-gc","sf":"$sfDir%s"}""")
      }
    }
    spark.stop()
  }
}
