package graft

import graft.operators.{Clustering, Crossover, Profiles}
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: min-label components, isolated nodes kept") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("node")
    val got = Clustering.connectedComponents(edges, Some(nodes))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connectedComponents: long chain converges (diameter > 1 round)") {
    val chain = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Clustering.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
  }

  test("connectedComponents: 256-chain converges in O(log n) rounds (pointer jumping)") {
    // Crossover.distributed forces the distributed path under test
    val chain = (1L until 256L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Crossover.distributed(
        Clustering.connectedComponents(chain, maxIter = 15))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 256 && got.values.toSet == Set(1L))
  }

  test("connectedComponents: edge endpoints outside `nodes` still label by true min") {
    // node 1 appears only in the edge list; its id must still win as the
    // component minimum on BOTH paths
    val edges = Seq((1L, 5L)).toDF("src", "dst")
    val nodes = Seq(5L, 9L).toDF("node")
    val expected = Map(1L -> 1L, 5L -> 1L, 9L -> 9L)
    val local = Clustering.connectedComponents(edges, Some(nodes))
      .as[(Long, Long)].collect().toMap
    val dist = Crossover.distributed(
        Clustering.connectedComponents(edges, Some(nodes)))
      .as[(Long, Long)].collect().toMap
    assert(local == expected && dist == expected)
  }

  test("connectedComponents: local fast path matches the distributed labels") {
    val edges = Seq((5L, 9L), (9L, 2L), (7L, 8L), (1L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 5L, 7L, 8L, 9L, 42L).toDF("node")
    val local = Clustering.connectedComponents(edges, Some(nodes))
      .as[(Long, Long)].collect().toMap
    val dist = Crossover.distributed(
        Clustering.connectedComponents(edges, Some(nodes)))
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local == Map(1L -> 1L, 2L -> 2L, 5L -> 2L, 9L -> 2L,
      7L -> 7L, 8L -> 7L, 42L -> 42L))
    // empty edge list plus nodes: every node is its own component
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val emptyLocal = Clustering.connectedComponents(none, Some(nodes))
      .as[(Long, Long)].collect().toMap
    val emptyDist = Crossover.distributed(
        Clustering.connectedComponents(none, Some(nodes)))
      .as[(Long, Long)].collect().toMap
    assert(emptyLocal == emptyDist)
    assert(emptyLocal == Seq(1L, 2L, 5L, 7L, 8L, 9L, 42L).map(n => n -> n).toMap)
  }

  test("g3_single_linkage: warm construction runs 3 jobs — the nodes " +
      "ride in the bounded take, no collect of their own") {
    val g3 = graft.queries.AllQueries.queries("g3_single_linkage")
    val dir = "/root/testdata/sf0.001"
    // AQE off, as the benchmark runs: each job is one whole plan, not
    // one adaptive stage
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs = try {
      g3(spark, dir).collect() // warm: builds the memoized warehouse slice
      jobsOf(g3(spark, dir))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    // the nodes ride in the take (2 rounds over 4 + 1 partitions); a
    // separate nodes collect would make it 4
    assert(jobs.size == 3 &&
      jobs.count(_.startsWith("take at Crossover")) == 2, jobs.toString)
  }

  test("connectedComponents: throws instead of returning non-converged labels") {
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Crossover.distributed(Clustering.connectedComponents(chain, maxIter = 2))
    }
  }

  // mini-MLST universe: 3 loci; A/B identical, C one mismatch from B,
  // D unrelated
  private lazy val fact = Seq(
    (1, 1, "1"), (1, 2, "1"), (1, 3, "1"),  // A = [1,1,1]
    (2, 1, "1"), (2, 2, "1"), (2, 3, "1"),  // B = [1,1,1]
    (3, 1, "1"), (3, 2, "1"), (3, 3, "9"),  // C = [1,1,9] (SLV of A/B)
    (4, 1, "7"), (4, 2, "8"), (4, 3, "6"))  // D = [7,8,6]
    .toDF("iso", "locus", "allele")
  private lazy val wh = Profiles.warehouse(fact, "iso", "locus", col("allele"), 3)

  test("singleLinkage groups within threshold, leaves outliers alone") {
    val groups = Clustering.singleLinkage(wh, "iso", 3, threshold = 1)
      .as[(Int, Int)].collect().toMap
    assert(groups == Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4))
  }

  test("burst: SLV counts and founder = most SLVs, min id on tie") {
    val out = Clustering.burst(wh, "iso", 3, grpdef = 2)
      .select("iso", "group_id", "slv_count", "is_founder")
      .as[(Int, Int, Long, Boolean)].collect().toSet
    // SLV pairs (shared == 2): (1,3), (2,3). Group {1,2,3}; D isolated.
    // C has 2 SLVs -> founder of group 1; D founder of its own group.
    assert(out == Set(
      (1, 1, 1L, false), (2, 1, 1L, false), (3, 1, 2L, true), (4, 4, 0L, true)))
  }

  test("singleLinkage and burst match union-find references on random profiles") {
    val rnd = new scala.util.Random(17)
    val nLoci = 4
    for (round <- 1 to 3) {
      val n = 24
      val profiles = (1 to n).map { i =>
        (i, Vector.fill(nLoci)(
          if (rnd.nextInt(10) == 0) "0" else (1 + rnd.nextInt(3)).toString))
      }
      val fact = profiles.flatMap { case (id, p) =>
        p.zipWithIndex.map { case (a, l) => (id, l + 1, a) }
      }.toDF("iso", "locus", "allele")
      val w = Profiles.warehouse(fact, "iso", "locus", col("allele"), nLoci)
      def shared(a: Vector[String], b: Vector[String]): Int =
        a.zip(b).count { case (x, y) => x == y && x != "0" }
      val pairShared = (for {
        (i, pi) <- profiles; (j, pj) <- profiles if i < j
      } yield ((i, j), shared(pi, pj))).toMap
      def components(minShared: Int): Map[Int, Int] = {
        val parent = scala.collection.mutable.Map((1 to n).map(i => i -> i): _*)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        for (((i, j), s) <- pairShared if s >= minShared)
          parent(find(i)) = find(j)
        val roots = (1 to n).groupBy(find)
        roots.flatMap { case (_, ms) => ms.map(_ -> ms.min) }
      }
      // single linkage at threshold 1: edges share >= nLoci - 1
      val expectSl = components(nLoci - 1)
      val gotSl = Clustering.singleLinkage(w, "iso", nLoci, threshold = 1)
        .as[(Int, Int)].collect().toMap
      assert(gotSl == expectSl, s"round $round single linkage")
      // burst at grpdef = nLoci - 2
      val expectGroups = components(nLoci - 2)
      val slv = (1 to n).map { i =>
        i -> pairShared.count { case ((a, b), s) =>
          s == nLoci - 1 && (a == i || b == i) }.toLong
      }.toMap
      val founders = expectGroups.groupBy(_._2).map { case (_, ms) =>
        ms.keys.minBy(i => (-slv(i), i))
      }.toSet
      val gotBurst = Clustering.burst(w, "iso", nLoci, grpdef = nLoci - 2)
        .select("iso", "group_id", "slv_count", "is_founder")
        .as[(Int, Int, Long, Boolean)].collect()
      assert(gotBurst.map(r => r._1 -> r._2).toMap == expectGroups,
        s"round $round burst groups")
      assert(gotBurst.map(r => r._1 -> r._3).toMap == slv,
        s"round $round slv counts")
      assert(gotBurst.filter(_._4).map(_._1).toSet == founders,
        s"round $round founders")
    }
  }

  test("identityPct: non-missing denominator, N wildcard") {
    assert(Clustering.identityPct(Seq("1", "2", "3"), Seq("1", "2", "9")) == 100.0 * 2 / 3)
    assert(Clustering.identityPct(Seq("1", "0", "3"), Seq("1", "2", "3")) == 100.0)
    assert(Clustering.identityPct(Seq("1", "N", "3"), Seq("1", "2", "9")) == 100.0 * 2 / 3)
    assert(Clustering.identityPct(Seq("0", "0"), Seq("1", "2")) == 0.0)
  }

  test("assignLinCodes: hand-computed golden (thresholds 50/100)") {
    // order: 1=[1,1,1,1] first -> [0,0]
    // 2=[1,1,1,1]: 100% to 1 -> clears both levels -> inherits [0,0]
    // 3=[1,1,9,9]: 50% to 1 -> clears level 1 only -> prefix [0], next free
    //              at level 2 among [0,*]: 0 used -> [0,1]
    // 4=[7,8,6,5]: 0% -> clears nothing -> next free at level 1: [1,0]
    // 5=[1,1,9,8]: 75% to 3 -> prefix [0], used {0,1} -> [0,2]
    val f = Seq(
      (1, Seq("1", "1", "1", "1")), (2, Seq("1", "1", "1", "1")),
      (3, Seq("1", "1", "9", "9")), (4, Seq("7", "8", "6", "5")),
      (5, Seq("1", "1", "9", "8")))
      .toDF("iso", "profile")
    val got = Clustering.assignLinCodes(f, "iso", Seq(50.0, 100.0))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got == Map(
      1L -> Seq(0, 0), 2L -> Seq(0, 0), 3L -> Seq(0, 1),
      4L -> Seq(1, 0), 5L -> Seq(0, 2)))
  }

  test("assignLinCodes matches an independent sequential reference") {
    val rnd = new scala.util.Random(23)
    val thresholds = Seq(40.0, 70.0, 100.0)
    val levels = thresholds.length
    for (round <- 1 to 2) {
      val profs = (1 to 18).map(i => (i.toLong, Vector.fill(5)(
        if (rnd.nextDouble() < 0.1) "0"
        else if (rnd.nextDouble() < 0.1) "N"
        else rnd.nextInt(3).toString)))
      val byId = profs.toMap
      // the reference rule, written independently of the operator: ascending
      // ids; nearest = max identityPct over ALL lower ids, ties to lowest;
      // code = inherited prefix to the deepest cleared threshold + smallest
      // unused integer at the next level + zeros
      val codes = scala.collection.mutable.LinkedHashMap.empty[Long, Vector[Int]]
      for ((id, p) <- profs.sortBy(_._1)) {
        val code =
          if (codes.isEmpty) Vector.fill(levels)(0)
          else {
            val (pid, pct) = codes.keys.map(o =>
              (o, Clustering.identityPct(p, byId(o)))).maxBy {
                case (o, s) => (s, -o) }
            val depth = thresholds.lastIndexWhere(t => pct >= t) + 1
            if (depth >= levels) codes(pid)
            else {
              val prefix = codes(pid).take(depth)
              val usedInts = codes.values
                .filter(_.take(depth) == prefix).map(_(depth)).toSet
              val nxt = Iterator.from(0).find(!usedInts.contains(_)).get
              (prefix :+ nxt) ++ Vector.fill(levels - depth - 1)(0)
            }
          }
        codes(id) = code
      }
      val got = Clustering.assignLinCodes(
          profs.toDF("iso", "profile"), "iso", thresholds, batchSize = 4)
        .as[(Long, Seq[Int])].collect().toMap
      assert(got.view.mapValues(_.toVector).toMap == codes.toMap,
        s"round $round")
    }
  }

  test("assignLinCodes: batched distance jobs match a single batch") {
    // randomized profiles; batchSize=2 forces many per-batch Spark jobs
    // (nearest-assigned crossing batch boundaries) and must agree with one
    // whole-dimension batch — the driver threads only codes between jobs
    val rnd = new scala.util.Random(11)
    val f = (1 to 23).map { i =>
      (i, Seq.fill(6)(if (rnd.nextDouble() < 0.15) "0"
                      else rnd.nextInt(4).toString))
    }.toDF("iso", "profile")
    val batched = Clustering.assignLinCodes(f, "iso", Seq(34.0, 67.0, 100.0),
        batchSize = 2)
      .as[(Long, Seq[Int])].collect().toMap
    val whole = Clustering.assignLinCodes(f, "iso", Seq(34.0, 67.0, 100.0),
        batchSize = 1000)
      .as[(Long, Seq[Int])].collect().toMap
    assert(batched.size == 23 && batched == whole)
  }

  test("primOrder: hand-computed MST traversal (lincodes.pl get_prim_order)") {
    // bulk distance (N→missing): 100·diffs/(L − missingEither). Matrix
    // (positions 0..4 = ids 1..5):
    //   d01=25 d02=50 d03=100 d04=0
    //   d12=25 d13=100 d14=0  d23=100 d24=33.3 d34=100
    // initial pair: global min 0 at (0,4) — ties (1,4) lose by lex (i,j).
    // step: u=1 d=0 → order [0,4,1]; u=2 via d12=25 → [0,4,1,2]; then 3.
    val f = Seq(
      (1, Seq("1", "1", "1", "1")), (2, Seq("1", "1", "1", "2")),
      (3, Seq("1", "1", "2", "2")), (4, Seq("9", "9", "9", "9")),
      (5, Seq("1", "1", "1", "0")))
      .toDF("iso", "profile")
    assert(Clustering.primOrder(f, "iso") == Seq(1L, 5L, 2L, 3L, 4L))
    // batched distance jobs agree with single-batch
    assert(Clustering.primOrder(f, "iso", batchSize = 2) ==
      Seq(1L, 5L, 2L, 3L, 4L))
  }

  test("primOrder: local, heap-triangle and mmap-spilled paths are " +
      "bit-identical") {
    // 60 distinct profiles. Default takes the LOCAL path (dictionary-
    // coded matrix, no triangle); Crossover.distributed forces the Spark
    // fill; mmapThreshold=2 on top forces the spill store. All three must
    // produce the same order bit-for-bit (shared primSelect loop; the
    // distance kernels are pinned to the same float arithmetic).
    val f = (1 to 60).map(i =>
      (i.toLong, Seq((i % 7).toString, (i % 5).toString,
        (i % 3).toString, (i / 10).toString)))
      .toDF("iso", "profile")
    val local = Clustering.primOrder(f, "iso")
    val heap = Crossover.distributed(Clustering.primOrder(f, "iso"))
    val spilled = Crossover.distributed(
      Clustering.primOrder(f, "iso", mmapThreshold = 2))
    assert(local == heap && heap == spilled && local.length == 60)
  }

  test("primOrder: local path handles missing-heavy and all-missing " +
      "profiles like the triangle path") {
    // all-missing pairs are distance 100 (0/0 in the reference); N is
    // projected to missing BEFORE comparison on the bulk path — exercise
    // both against the forced Spark fill
    val f = Seq(
      (1, Seq("0", "0", "0")), (2, Seq("0", "0", "0")),
      (3, Seq("1", "N", "0")), (4, Seq("1", "2", "3")),
      (5, Seq("1", "2", "4")))
      .toDF("iso", "profile")
    val local = Clustering.primOrder(f, "iso")
    val spark = Crossover.distributed(Clustering.primOrder(f, "iso"))
    assert(local == spark && local.length == 5)
  }

  test("primOrder: maxMissing gate excludes N-heavy profiles") {
    val f = Seq(
      (1, Seq("1", "1", "1", "1")), (2, Seq("1", "1", "1", "2")),
      (6, Seq("N", "1", "1", "1")))
      .toDF("iso", "profile")
    assert(!Clustering.primOrder(f, "iso", maxMissing = 0).contains(6L))
    assert(Clustering.primOrder(f, "iso", maxMissing = 1).toSet ==
      Set(1L, 2L, 6L))
  }

  test("assignLinCodesBulk: hand-computed golden over the PRIM order") {
    // order [1,5,2,3,4] (prior test); thresholds 50/80 (ascending identity)
    //   id1 → [0,0]
    //   id5: d(5,1)=0, identity 100 → clears both → inherit [0,0]
    //   id2: nearest id5 (d=0, earliest on tie) → inherit [0,0]
    //   id3: nearest id2 d=25, identity 75: ≥50 only → prefix [0],
    //        max at level 2 under [0] is 0 → [0,1]
    //   id4: all d=100, identity 0 → clears none → max first = 0 → [1,0]
    val f = Seq(
      (1, Seq("1", "1", "1", "1")), (2, Seq("1", "1", "1", "2")),
      (3, Seq("1", "1", "2", "2")), (4, Seq("9", "9", "9", "9")),
      (5, Seq("1", "1", "1", "0")))
      .toDF("iso", "profile")
    val got = Clustering.assignLinCodesBulk(f, "iso", Seq(50.0, 80.0))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got == Map(
      1L -> Seq(0, 0), 5L -> Seq(0, 0), 2L -> Seq(0, 0),
      3L -> Seq(0, 1), 4L -> Seq(1, 0)))
    val batched = Clustering.assignLinCodesBulk(f, "iso", Seq(50.0, 80.0),
        batchSize = 2)
      .as[(Long, Seq[Int])].collect().toMap
    assert(batched == got)
  }

  test("assignLinCodes/assignLinCodesBulk: local crossover == forced " +
      "Spark path, codes bit-identical") {
    // 40 profiles mixing exact dups, near-dups, missing ("0") and
    // wildcard ("N") loci — both distance kernels and both tie rules get
    // exercised; Crossover.distributed forces the distributed path
    val f = (1 to 40).map { i =>
      val base = Seq((i % 6).toString, (i % 4).toString,
        (i % 3).toString, (i / 8).toString, (i % 2).toString)
      val withMiss = if (i % 7 == 0) base.updated(1, "0") else base
      val withN = if (i % 11 == 0) withMiss.updated(2, "N") else withMiss
      (i.toLong, withN)
    }.toDF("iso", "profile")
    val th = Seq(40.0, 70.0, 90.0)
    val incLocal = Clustering.assignLinCodes(f, "iso", th)
      .as[(Long, Seq[Int])].collect().toMap
    val incSpark = Crossover.distributed(
        Clustering.assignLinCodes(f, "iso", th))
      .as[(Long, Seq[Int])].collect().toMap
    assert(incLocal == incSpark && incLocal.size == 40)
    val bulkLocal = Clustering.assignLinCodesBulk(f, "iso", th)
      .as[(Long, Seq[Int])].collect().toMap
    val bulkSpark = Crossover.distributed(
        Clustering.assignLinCodesBulk(f, "iso", th))
      .as[(Long, Seq[Int])].collect().toMap
    assert(bulkLocal == bulkSpark && bulkLocal.size == 40)
  }

  test("assignLinCodes is deterministic across re-runs") {
    val f = Seq(
      (10, Seq("1", "2", "3")), (20, Seq("1", "2", "4")), (30, Seq("9", "9", "9")))
      .toDF("iso", "profile")
    val a = Clustering.assignLinCodes(f, "iso", Seq(40.0, 80.0))
      .as[(Long, Seq[Int])].collect().toMap
    val b = Clustering.assignLinCodes(f, "iso", Seq(40.0, 80.0))
      .as[(Long, Seq[Int])].collect().toMap
    assert(a == b)
  }

  test("minimumSpanningForest: hand graph, ties broken by (weight, src, dst)") {
    // square 1-2-3-4 with diagonal; two weight-1 edges tie on weight
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 1L, 2L), (1L, 3L, 3L),
      // second component
      (10L, 11L, 5L))
      .toDF("src", "dst", "weight")
    val got = Clustering.minimumSpanningForest(edges)
      .as[(Long, Long, Long)].collect().toSet
    // unique MSF: both weight-1 edges, then (3,4) beats (1,4)? no — both
    // weight 2; (1,4) < (3,4) by src ⇒ (1,4) picked
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 4L, 2L), (10L, 11L, 5L)))
  }

  test("minimumSpanningForest matches brute-force Kruskal on random graphs") {
    val rnd = new scala.util.Random(7)
    // trial 0: the empty edge list
    for (trial <- 0 to 3) {
      val n = 30
      val es = if (trial == 0) Seq.empty[(Long, Long, Long)] else (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.15
      } yield (a.toLong, b.toLong, rnd.nextInt(10).toLong)).toSeq
      val got = Clustering.minimumSpanningForest(es.toDF("src", "dst", "weight"))
        .as[(Long, Long, Long)].collect().toSet
      // distributed Borůvka path (Crossover.distributed) must agree —
      // the unique-MSF argument, exercised end-to-end
      val gotDist = Crossover.distributed(
          Clustering.minimumSpanningForest(es.toDF("src", "dst", "weight")))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == gotDist, s"trial $trial: fast path != distributed")
      // local Kruskal under the same (weight, src, dst) total order
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r); r
      }
      val want = scala.collection.mutable.Set.empty[(Long, Long, Long)]
      for ((s, d, w) <- es.sortBy(e => (e._3, e._1, e._2))) {
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) { parent(rs) = rd; want += ((s, d, w)) }
      }
      assert(got == want.toSet, s"trial $trial")
    }
  }

  test("singleLinkageNewick: hand-computed dendrogram, branch lengths, singletons") {
    // 1-2 at distance 1; {1,2}-3 at 2; 4-5 at 2; 9 isolated
    val edges = Seq((1L, 2L, 1), (2L, 3L, 2), (4L, 5L, 2))
      .toDF("src", "dst", "weight")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("node")
    val got = Clustering.singleLinkageNewick(edges, nodes)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "((1:1,2:1):1,3:2);", // {1,2} formed at 1, merges 3 at level 2
      4L -> "(4:2,5:2);",
      9L -> "9;"))
    // the per-level distributed components build the same strings, bit
    // for bit — here and on a random graph with shared levels
    val rnd = new scala.util.Random(3)
    val randEdges = Seq.fill(40)((rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong, 1 + rnd.nextInt(4))).toDF("src", "dst", "weight")
    val randNodes = (0L until 32L).toDF("node")
    for ((e, n) <- Seq((edges, nodes), (randEdges, randNodes))) {
      val local = Clustering.singleLinkageNewick(e, n)
        .as[(Long, String)].collect().toSeq.sorted
      val dist = Crossover.distributed(Clustering.singleLinkageNewick(e, n))
        .as[(Long, String)].collect().toSeq.sorted
      assert(local == dist)
    }
  }

  test("minimumSpanningForest: empty and single-edge inputs") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "weight")
    assert(Clustering.minimumSpanningForest(empty).count() == 0)
    val one = Seq((5L, 3L, 9L)).toDF("src", "dst", "weight")
    // normalized to src < dst
    assert(Clustering.minimumSpanningForest(one)
      .as[(Long, Long, Long)].collect().toSeq == Seq((3L, 5L, 9L)))
  }
}
