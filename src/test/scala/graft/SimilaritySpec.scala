package graft

import graft.operators.Crossover
import graft.pipeline.{Similarity, SimilarityReference}
import org.apache.spark.sql.functions._

/** ANN: cosine arithmetic, brute-force top-k exactness, LSH recall. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot / norm / cosine golden values") {
    val df = spark.range(1).select(
      Similarity.dot(typedLit(Seq(1.0, 2.0, 3.0)), typedLit(Seq(4.0, 5.0, 6.0))).as("d"),
      round(Similarity.cosine(typedLit(Seq(1.0, 0.0)), typedLit(Seq(0.0, 1.0))), 6).as("c0"),
      round(Similarity.cosine(typedLit(Seq(2.0, 0.0)), typedLit(Seq(5.0, 0.0))), 6).as("c1"),
      Similarity.cosine(typedLit(Seq(0.0, 0.0)), typedLit(Seq(1.0, 1.0))).as("cz"))
    assert(rows(df).head == Seq(32.0, 0.0, 1.0, 0.0)) // zero-norm -> 0, not NaN
  }

  test("bruteForceTopK returns exact nearest neighbors in rank order") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f))).toDF("id", "v")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("id") === 1), "id", "v", 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(out == Seq((2L, 1L), (3L, 2L))) // 2 closest, then orthogonal 3, never -v 4
  }

  test("IVF ANN achieves >=0.5 recall@5 vs brute force; exact within probed lists") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("trained-centroid IVF with full probes equals brute force") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 6)
    val cents = Similarity.kmeansTrain(emb, "vec_id", "embedding",
      k = 4, dim = 64, iters = 1)
    // nprobe = nlist → every cell probed → exact search, regardless of
    // which centroids route the cells
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 4, nlist = 4, nprobe = 4, trained = Some(cents))
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(ivf == exact && ivf.nonEmpty)
  }

  test("cosineNearDupPairs finds planted near-identical vectors") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.99f, 0.05f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("id", "v")
    val pairs = Similarity.cosineNearDupPairs(vecs, "id", "v", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semDedup drops exactly the rows with a lower-id cell-mate above tau") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.semDedup(emb, "vec_id", "embedding", tau = 0.3, nlist = 8)
      .select("vec_id", "list_id", "keep", "dup_of")
      .as[(Long, Long, Boolean, Option[Long])].collect()
    assert(out.length == emb.count())
    // replay the rule per cell against independently computed cosines
    val byCell = out.groupBy(_._2)
    val vecs = emb.select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for ((_, cell) <- byCell; (id, _, keep, dupOf) <- cell) {
      val lower = cell.map(_._1).filter(_ < id)
      val expected = lower.filter(o => cos(vecs(o), vecs(id)) >= 0.3)
      assert(keep == expected.isEmpty, s"id=$id")
      if (!keep) assert(dupOf.contains(expected.min), s"id=$id dup_of=$dupOf")
    }
    assert(out.exists(!_._3) && out.exists(_._3)) // both outcomes occur
  }

  test("LSH ANN achieves >=0.6 recall@5 vs brute force on the sf0.001 corpus") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        dim = 64, k = 5, bits = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("mutualKnnGraph with full probes equals the brute-force mutual graph") {
    val rnd = new scala.util.Random(19)
    val vecs = (1L to 60L)
      .map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // nprobe = nlist → IVF degenerates to exact search
    val got = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding",
        k = 4, nlist = 8, nprobe = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val knn = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val expected = knn.filter { case (a, b) => a < b && knn.contains((b, a)) }
    assert(got == expected)
    // every mutual edge is canonical (id1 < id2) and appears once
    assert(got.forall { case (a, b) => a < b })
  }

  test("nnDescentRound: pointwise no-worse than the IVF seed; recall improves here") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = edges(Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 5))
    val seed = Similarity.ivfTopK(emb, emb, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 2)
    val refined = Similarity.nnDescentRound(emb, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 2)
    // candidate set ⊇ seed edges, so the refined per-query cosine total
    // can never drop — the local-search monotonicity NN-descent rests on
    val seedSum = seed.groupBy("query_id").agg(sum("cos").as("s"))
      .as[(Long, Double)].collect().toMap
    val refSum = refined.groupBy("query_id").agg(sum("cos").as("s"))
      .as[(Long, Double)].collect().toMap
    assert(seedSum.keySet == refSum.keySet)
    assert(seedSum.forall { case (q, s) => refSum(q) >= s - 1e-12 })
    // and on this corpus one round strictly improves recall@5 vs exact
    val rSeed = exact.intersect(edges(seed)).size.toDouble / exact.size
    val rRef = exact.intersect(edges(refined)).size.toDouble / exact.size
    // (no absolute floor: the synthetic embeddings are near-isotropic, so
    // one round's gain is real but modest — the invariant is improvement)
    assert(rRef > rSeed, s"seed=$rSeed refined=$rRef")
  }

  test("nnDescent converges to a fixed point; recall >= single round") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = edges(Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 5))
    val one = Similarity.nnDescentRound(emb, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 2)
    val conv = Similarity.nnDescent(emb, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 2, maxRounds = 12, delta = 0.0)
    // convergence (delta=0 → zero new edges) means one more refinement
    // step returns exactly the same edge set — the fixed-point contract
    // the unrolled DuckDB oracle relies on
    val v = emb.select(col("vec_id").as("__id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x.cast("double")).as("__v"))
    val convEdges = edges(conv)
    val again = edges(Similarity.nnDescentStep(conv, v, 5))
    assert(again == convEdges, "converged graph must be a fixed point")
    // the converged build can only add recall over the single round
    val r1 = exact.intersect(edges(one)).size.toDouble / exact.size
    val rc = exact.intersect(convEdges).size.toDouble / exact.size
    assert(rc >= r1, s"one-round=$r1 converged=$rc")
  }

  test("nnDescent driver-local crossover == forced-Spark loop, " +
      "bit-for-bit including cos and ranks") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val local = full(Similarity.nnDescent(emb, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 2, maxRounds = 12, delta = 0.0))
    val dist = full(Crossover.distributed(Similarity.nnDescent(emb,
      "vec_id", "embedding", k = 5, nlist = 32, nprobe = 2, maxRounds = 12,
      delta = 0.0)))
    assert(local == dist,
      "local descent must replay the distributed loop bit-identically")
    assert(local.nonEmpty)
  }

  test("nnDescent crossover == forced-Spark under a PARTIAL caller seed " +
      "(fresh-only query ids, out-of-corpus seed ids)") {
    // ADVICE r12-medium: the advertised bit-identity contract must hold
    // for the public `seed` parameter, not just the full self-seeds the
    // shipped queries pass. This seed (a) drops some query ids so they
    // appear only as neighbors (the distributed groupBy creates new
    // groups for them mid-descent) and (b) plants a seed row whose query
    // id has no corpus vector (the distributed inner-join attach drops
    // its scoring pairs but carries its list).
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val fullSeed = Similarity.ivfTopK(emb, emb, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
    val ghost = Seq((99999L, 0L, 0.5, 1L))
      .toDF("query_id", "neighbor_id", "cos", "rank")
    val partial = fullSeed.filter(col("query_id") % 7 =!= 0)
      .unionByName(ghost)
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rank")
        .as[(Long, Long, Double, Long)].collect().toSeq.sorted
    val local = full(Similarity.nnDescent(emb, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 2, maxRounds = 6, delta = 0.0,
      seed = Some(partial)))
    val dist = full(Crossover.distributed(Similarity.nnDescent(emb,
      "vec_id", "embedding", k = 5, nlist = 32, nprobe = 2, maxRounds = 6,
      delta = 0.0, seed = Some(partial))))
    assert(local == dist,
      "partial-seed local descent must replay the distributed loop")
    // the dropped ids re-enter as fresh-only query groups in both paths
    val qids = local.map(_._1).toSet
    assert(qids.exists(_ % 7 == 0),
      "descent must create lists for fresh-only query ids")
    assert(qids.contains(99999L),
      "out-of-corpus seed lists must carry through, not throw")
  }

  test("mmrFromShortlist driver-local crossover == forced-Spark greedy, " +
      "bit-for-bit including pick order and rel") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 4)
    val short = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 10)
      .select(col("query_id"), col("neighbor_id").as("cand"),
        col("cos").as("rel"))
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "pick_rank", "rel")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val local = full(Similarity.mmrFromShortlist(short, emb, "vec_id",
      "embedding", k = 5))
    val dist = full(Crossover.distributed(Similarity.mmrFromShortlist(
      short, emb, "vec_id", "embedding", k = 5)))
    assert(local == dist,
      "local greedy must replay the distributed rounds bit-identically")
    assert(local.size == 4 * 5)
  }

  test("multi-probe LSH: candidate superset of exact probing, recall no worse") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = edges(Similarity.lshTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 5, bits = 4, tables = 4))
    val multi = Similarity.lshTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 5, bits = 4, tables = 4, probeHamming = 1)
    // Hamming-1 probing only ADDS buckets, so per-query result quality is
    // monotone: the summed top-k cosine can never drop
    val exactSum = Similarity.lshTopK(emb, q, "vec_id", "embedding",
        dim = 64, k = 5, bits = 4, tables = 4)
      .groupBy("query_id").agg(sum("cos").as("s"))
      .as[(Long, Double)].collect().toMap
    val multiSum = multi.groupBy("query_id").agg(sum("cos").as("s"))
      .as[(Long, Double)].collect().toMap
    assert(exactSum.keySet.subsetOf(multiSum.keySet))
    assert(exactSum.forall { case (qid, s) => multiSum(qid) >= s - 1e-12 })
    // and against brute-force truth, recall@5 must not drop either
    val truth = edges(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5))
    val rExact = truth.intersect(exact).size.toDouble / truth.size
    val rMulti = truth.intersect(edges(multi)).size.toDouble / truth.size
    assert(rMulti >= rExact, s"exact=$rExact multi=$rMulti")
    // query-directed sequence (probeSeq=m) sits BETWEEN 0-probe and the
    // full Hamming-1 ball: its probe buckets are a subset of the ball's
    // and a superset of the exact bucket, so summed top-k cosine is
    // sandwiched per query
    val directed = Similarity.lshTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 5, bits = 4, tables = 4, probeHamming = 1, probeSeq = 2)
    val dirSum = directed.groupBy("query_id").agg(sum("cos").as("s"))
      .as[(Long, Double)].collect().toMap
    assert(exactSum.forall { case (qid, s) => dirSum(qid) >= s - 1e-12 },
      "directed probing must not lose exact-bucket results")
    assert(dirSum.forall { case (qid, s) => multiSum(qid) >= s - 1e-12 },
      "the full Hamming-1 ball dominates any directed subsequence")
    // and probing ALL bits via probeSeq equals the uniform ball exactly
    val full = edges(Similarity.lshTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 5, bits = 4, tables = 4, probeHamming = 1, probeSeq = 4))
    assert(full == edges(multi), "probeSeq=bits must equal the Hamming-1 ball")
  }

  test("ivfAppendTopK: empty delta == plain ivfTopK; appended vectors become findable") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = emb.filter(col("vec_id") >= 20)
    val delta = emb.filter(col("vec_id") < 20)
    val q = emb.filter(col("vec_id") >= 20 && col("vec_id") < 28)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
    // frozen centroids ARE the base's own sample, so with nothing
    // appended the incremental form must equal the plain index exactly
    val plain = rows(Similarity.ivfTopK(base, q, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4))
    val empty = rows(Similarity.ivfAppendTopK(base, delta.limit(0), q,
      "vec_id", "embedding", k = 5, nlist = 8, nprobe = 4))
    assert(empty == plain)
    // with the delta appended, its vectors are findable by the same index
    val inc = Similarity.ivfAppendTopK(base, delta, q,
      "vec_id", "embedding", k = 5, nlist = 8, nprobe = 4)
    assert(inc.filter(col("neighbor_id") < 20).count() > 0,
      "appended vectors never surfaced in any top-k")
  }

  test("ivfPqTopK: widening the probe never worsens the best match; " +
      "k rows per query; no self matches") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    def run(nprobe: Int) = Similarity.ivfPqTopK(emb, q, "vec_id",
      "embedding", k = 5, nlist = 8, nprobe = nprobe, m = 2, dim = 64,
      kCodes = 8, iters = 2)
    val narrow = run(2)
    val full = run(8)
    assert(narrow.filter(col("query_id") === col("neighbor_id")).count() == 0)
    assert(narrow.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() == 0,
      "every query must return exactly k rows")
    // a candidate's ADC is a function of ITS cell alone, so widening the
    // probe only ADDS candidates — the per-query minimum cannot rise
    val best = narrow.filter(col("rank") === 1)
      .select(col("query_id"), col("adc").as("adc_narrow"))
      .join(full.filter(col("rank") === 1)
        .select(col("query_id"), col("adc").as("adc_full")), "query_id")
    assert(best.filter(col("adc_full") > col("adc_narrow") + lit(1e-9))
      .count() == 0, "full probe found a worse best match than narrow")
  }

  test("knnClassify: majority vote with smallest-label ties; a query deep " +
      "inside a label cluster is classified correctly") {
    import spark.implicits._
    // 2D-style vectors embedded in the first two of 64 dims: label 0
    // clusters near (1,0), label 1 near (0,1); query 0 sits in cluster 0
    def v(x: Double, y: Double): Seq[Float] =
      (Seq(x, y) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    val emb = Seq(
      (0L, v(0.9, 0.1), 0), (1L, v(1.0, 0.0), 0), (2L, v(0.95, 0.05), 0),
      (3L, v(0.0, 1.0), 1), (4L, v(0.1, 0.9), 1), (5L, v(0.05, 0.95), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", k = 3)
      .as[(Long, Int, Long)].collect().toSeq
    // neighbors of 0: vecs 1, 2 (label 0) then one of label 1 → vote 2:1
    assert(got == Seq((0L, 0, 2L)))
    // k=4: 2 votes each — the tie resolves to the smaller label (0)
    val tied = Similarity.knnClassify(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", k = 4)
      .as[(Long, Int, Long)].collect().toSeq
    assert(tied == Seq((0L, 0, 2L)))
  }

  test("dbscan: density asymmetry — a shared border never glues two " +
      "clusters; isolated cores self-cluster; singletons are noise") {
    import spark.implicits._
    // two triangles joined ONLY through node 10 (degree 2); 20–21 an
    // isolated pair; node 30 has no edges at all
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 7L, 10L, 20L, 21L, 30L).toDF("id")
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),    // triangle A (1 also sees 10)
      (5L, 6L), (6L, 7L), (5L, 7L),    // triangle B (5 also sees 10)
      (1L, 10L), (5L, 10L),            // 10 touches BOTH triangles
      (20L, 21L)                       // isolated degree-1 pair
    ).toDF("id1", "id2")
    val got = Similarity.dbscan(nodes, pairs, "id", minPts = 2)
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val strict = Similarity.dbscan(nodes, pairs, "id", minPts = 3)
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // minPts=3: only 1 and 5 reach degree 3 → cores; no core-core edge
    // exists, so each self-clusters
    assert(strict(1L) == ((3L, "core", 1L)) &&
      strict(5L) == ((3L, "core", 5L)), s"$strict")
    // their triangles attach as borders; clusters stay separate
    assert(strict(2L)._3 == 1L && strict(3L)._3 == 1L)
    assert(strict(6L)._3 == 5L && strict(7L)._3 == 5L)
    // border 10 touches both cores → joins the MIN cluster, no gluing
    assert(strict(10L) == ((2L, "border", 1L)))
    // 20/21's neighbors are not cores → noise; 30 isolated → noise
    assert(strict(20L) == ((1L, "noise", -1L)))
    assert(strict(21L) == ((1L, "noise", -1L)))
    assert(strict(30L) == ((0L, "noise", -1L)))
    // minPts=2 sanity: 10 becomes core and the chains DO merge (the
    // parameter, not the implementation, decides)
    assert(got(10L)._2 == "core" && got(6L)._3 == got(2L)._3)
  }

  test("dbscan: driver-local crossover ≡ forced-distributed path, " +
      "bit-for-bit (duplicate pairs, self-pairs, both-direction dups)") {
    import spark.implicits._
    val nodes = (0L to 40L).toDF("id")
    // seeded pseudo-random graph + the degenerate shapes the degree
    // arithmetic must count identically: duplicate pairs (counted twice),
    // a self-pair (adds 2 to its own degree), and a reversed duplicate
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val pairs = (base ++ Seq((3L, 4L), (3L, 4L), (4L, 3L), (9L, 9L)))
      .toDF("id1", "id2")
    for (mp <- Seq(1, 2, 3)) {
      val local = Similarity.dbscan(nodes, pairs, "id", minPts = mp)
        .as[(Long, Long, String, Long)].collect().sortBy(_._1).toSeq
      val dist = Crossover.distributed(
          Similarity.dbscan(nodes, pairs, "id", minPts = mp))
        .as[(Long, Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(local == dist, s"minPts=$mp: local $local vs dist $dist")
    }
    // empty pair list plus nodes: every node is noise on both paths
    val none = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val emptyLocal = Similarity.dbscan(nodes, none, "id", minPts = 1)
      .as[(Long, Long, String, Long)].collect().sortBy(_._1).toSeq
    val emptyDist = Crossover.distributed(
        Similarity.dbscan(nodes, none, "id", minPts = 1))
      .as[(Long, Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(emptyLocal == emptyDist)
    assert(emptyLocal == (0L to 40L).map(n => (n, 0L, "noise", -1L)))
  }

  test("graph loops: driver-local crossover ≡ forced-distributed path " +
      "bit-for-bit (labelPropagate, corenessHIndex, pagerankInt)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(80)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    // duplicates and self-pairs: degree/multiset arithmetic must match
    val edges = (base ++ Seq((2L, 5L), (2L, 5L), (7L, 7L)))
      .toDF("id1", "id2")
    val lpL = Similarity.labelPropagate(edges, "id1", "id2", rounds = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val lpD = Crossover.distributed(
        Similarity.labelPropagate(edges, "id1", "id2", rounds = 3))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(lpL == lpD)
    val chL = Similarity.corenessHIndex(edges, "id1", "id2", rounds = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val chD = Crossover.distributed(
        Similarity.corenessHIndex(edges, "id1", "id2", rounds = 4))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(chL == chD)
    val prL = Similarity.pagerankInt(edges, "id1", "id2", rounds = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val prD = Crossover.distributed(
        Similarity.pagerankInt(edges, "id1", "id2", rounds = 3))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(prL == prD)
  }

  test("pcaPower: recovers the dominant direction of an anisotropic cloud; " +
      "unit output; extra iterations only sharpen it") {
    import spark.implicits._
    // dominant variance along dim 1 (values ±10), noise along dim 2 (±1)
    def v(x: Double, y: Double): Seq[Float] =
      (Seq(x, y) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    val emb = Seq(
      (0L, v(10.0, 1.0)), (1L, v(-10.0, 0.5)), (2L, v(9.5, -1.0)),
      (3L, v(-9.0, -0.5)), (4L, v(10.5, 0.2))).toDF("vec_id", "embedding")
    val w = Similarity.pcaPower(emb, "embedding", dim = 64, iters = 3)
      .select(col("dim"), col("weight"), col("top_share"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    // unit vector
    val n2 = w.map(_._2).map(x => x * x).sum
    assert(math.abs(n2 - 1.0) < 1e-9, s"norm² $n2")
    // dim 1 dominates, dim 2 small, the rest ~0
    assert(math.abs(w(0)._2) > 0.99, s"w1 ${w(0)._2}")
    assert(math.abs(w(1)._2) < 0.15 && w.drop(2).forall(x => x._2 == 0.0))
    // nearly all second-moment mass on the top direction
    assert(w(0)._3 > 0.95, s"top_share ${w(0)._3}")
  }

  test("IVFPQ: trained coarse cells shrink the residuals the coder fits") {
    import spark.implicits._
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val trained = Similarity.kmeansTrain(emb, "vec_id", "embedding",
      k = 8, dim = 64, iters = 2).toDF("list_id", "cvec")
    val sample = graft.operators.Numbering.numberBySort(
        emb.orderBy(col("vec_id")).limit(8)
          .select(col("vec_id").as("cid"),
            Similarity.toDouble(col("embedding")).as("cvec")),
        "cid", "list_id")
      .select(col("list_id"), col("cvec"))
    def meanResidualNorm2(c: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfResiduals(emb, "vec_id", "embedding", c)
        .agg(avg(Similarity.dot(col("rv"), col("rv")))).head.getDouble(0)
    val (t, s) = (meanResidualNorm2(trained), meanResidualNorm2(sample))
    assert(t < s, s"trained residual energy $t !< sample $s — the " +
      "trained-coarse index has no residual-coding advantage")
  }

  test("PQ: quadrupling subspaces cuts quantization distortion (k^m cells)") {
    // the PROVABLE lever is distortion, not recall (recall on a tiny
    // fixture can wiggle either way): m=4's 8^4 product cells must fit
    // the corpus better than m=2's 8^2. Distortion per vector is exactly
    // the ADC of the vector against its OWN codes.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") < 8)
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = edges(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5))
    def stats(m: Int): (Double, Double) = {
      val model = Similarity.pqTrain(emb, "vec_id", "embedding",
        m = m, dim = 64, k = 8, iters = 2)
      val selfAdc = model.subs.zipWithIndex.map { case ((start, len, cents), j) =>
        graft.functions.Vectors.l2sq(
          Similarity.toDouble(slice(col("embedding"), start, len)),
          element_at(typedLit(cents.sortBy(_._1).map(_._2)),
            col(s"code_${j + 1}").cast("int")))
      }.reduce(_ + _)
      val dist = Similarity.pqEncode(emb, "vec_id", "embedding", model)
        .join(emb, "vec_id").agg(avg(selfAdc)).head.getDouble(0)
      val recall = truth.intersect(edges(Similarity.pqAdcTopK(
        emb, q, "vec_id", "embedding", model, 5))).size.toDouble / truth.size
      (dist, recall)
    }
    val (d2, r2) = stats(2)
    val (d4, r4) = stats(4)
    assert(d4 < d2, s"m=2 distortion $d2, m=4 distortion $d4")
    assert(r2 > 0.0 && r4 > 0.0, s"recalls m2=$r2 m4=$r4")
  }

  test("incremental NN-descent step equals the full step, round by round") {
    // Dong et al. §2.3: scoring only new-involving NoN pairs must leave
    // every round's top-k lists EXACTLY unchanged (old-old pairs were
    // candidates two rounds back and lists are monotone). This is what
    // lets nnDescent's late rounds cost ~nothing without drifting off the
    // unrolled full-rescore oracle.
    val rnd = new scala.util.Random(47)
    val vecs = (1L to 80L)
      .map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val v = vecs.select(col("vec_id").as("__id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        x => x.cast("double")).as("__v"))
    def lists(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
    var full = Similarity.ivfTopK(vecs, vecs, "vec_id", "embedding",
        k = 4, nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id", "cos", "rank")
    var incr = full
    var fresh: Option[org.apache.spark.sql.DataFrame] = None
    for (round <- 1 to 3) {
      val fullNext = Similarity.nnDescentStep(full, v, 4)
      val incrNext = Similarity.nnDescentStep(incr, v, 4, newIds = fresh)
      assert(lists(incrNext) == lists(fullNext),
        s"round $round: incremental step diverged from the full step")
      fresh = Some(incrNext.select("query_id", "neighbor_id")
        .join(incr.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_anti"))
      full = fullNext
      incr = incrNext
    }
  }

  test("normFilter flags zero, non-finite, and mis-dimensioned vectors") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f)),                    // good
      (2L, Seq(0.0f, 0.0f)),                    // zero: cosine-undefined
      (3L, Seq(Float.NaN, 1.0f)),               // NaN component
      (4L, Seq(Float.PositiveInfinity, 1.0f)),  // infinite component
      (5L, Seq(1.0f)))                          // wrong dimension
      .toDF("vec_id", "embedding")
    val out = Similarity.normFilter(vecs, "embedding", dim = 2)
      .select("vec_id", "dim_ok", "n_nonfinite", "keep")
      .as[(Long, Boolean, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, true, 0L, true)))
    assert(out(1) == ((2L, true, 0L, false)))
    assert(out(2) == ((3L, true, 1L, false)))
    assert(out(3) == ((4L, true, 1L, false)))
    assert(out(4) == ((5L, false, 0L, false)))
    // null component: counted as non-finite, keep = false (not null —
    // a null verdict would vanish from both audit slices)
    val withNull = Seq((6L, Seq(Option(1.0f), None)))
      .toDF("vec_id", "embedding")
    val r = Similarity.normFilter(withNull, "embedding", dim = 2)
      .select("n_nonfinite", "keep").as[(Long, Boolean)].collect().head
    assert(r == ((1L, false)))
  }

  test("kmeansAssignments separates two tight clusters") {
    val vecs = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(0.1f, 0.0f)), (4L, Seq(10.1f, 9.9f)),
      (5L, Seq(0.05f, 0.05f)), (6L, Seq(9.9f, 10.1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssignments(vecs, "vec_id", "embedding",
        k = 2, dim = 2, iters = 2)
      .select(col("vec_id"), col("list_id")).as[(Long, Long)]
      .collect().toMap
    // seeds are vecs 1 and 2 — clusters must settle on {1,3,5} / {2,4,6}
    assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L,
      2L -> 2L, 4L -> 2L, 6L -> 2L))
  }

  test("kmeansAssignments: duplicate seed empties a cell; tie breaks to lowest list_id") {
    // v1 == v2 exactly: both assign to list 1 on the (dist2, list_id)
    // tie-break, so cell 2 loses all members and must keep its previous
    // centroid (not crash, not NaN)
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)), (3L, Seq(5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssignments(vecs, "vec_id", "embedding",
        k = 3, dim = 2, iters = 2)
      .select(col("vec_id"), col("list_id"), col("dist2"))
      .as[(Long, Long, Double)].collect()
    assert(got.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(got.forall(_._3 == 0.0)) // every point sits ON its centroid
  }

  test("PQ: when every vector is its own codeword, ADC = exact L2 knn") {
    // corpus of k distinct vectors with iters=0 → seeds ARE the corpus, so
    // each vector encodes to itself with zero quantization error and the
    // ADC scan degenerates to exact squared-L2 search — a full end-to-end
    // exactness witness for train → encode → LUT → scan
    val raw = Seq(
      Seq(0f, 0f, 1f, 0f), Seq(1f, 0f, 0f, 1f), Seq(0f, 2f, 0f, 0f),
      Seq(3f, 0f, 0f, 2f), Seq(0f, 1f, 1f, 1f), Seq(2f, 2f, 2f, 2f),
      Seq(1f, 1f, 0f, 3f), Seq(0f, 3f, 1f, 0f))
    val vecs = raw.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val model = Similarity.pqTrain(vecs, "vec_id", "embedding",
      m = 2, dim = 4, k = 8, iters = 0)
    // every code in 1..8, and all 8 distinct vectors get distinct codes
    val codes = Similarity.pqEncode(vecs, "vec_id", "embedding", model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(codes.forall(c => c._2 >= 1 && c._2 <= 8 && c._3 >= 1 && c._3 <= 8))
    val got = Similarity.pqAdcTopK(vecs, vecs.filter(col("vec_id") < 3),
        "vec_id", "embedding", model, k = 3)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._4) -> ((r._2, r._3))).toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    (0L until 3L).foreach { q =>
      val expected = raw.zipWithIndex.filter(_._2 != q)
        .map { case (v, i) => (l2(raw(q.toInt), v), i.toLong) }
        .sortBy(identity).take(3)
      expected.zipWithIndex.foreach { case ((d, id), r) =>
        assert(got((q, r + 1L)) == ((id, d)), s"query $q rank ${r + 1}")
      }
    }
  }

  test("collectBottomK equals the rank-window ground truth, ties included") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.ColumnBridge
    // heavy ties in s force the (s, id) struct tie-break to do real work;
    // 13 groups x ~150 rows each exercises multi-partition partial merges
    val rnd = new scala.util.Random(42)
    val df = (1 to 2000).map(i => (i.toLong % 13, rnd.nextInt(50), i.toLong))
      .toDF("g", "s", "id")
    val got = df.groupBy(col("g"))
      .agg(ColumnBridge.collectBottomK(struct(col("s"), col("id")), 7)
        .as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("i", "t")))
      .select(col("g"), col("t.s").as("s"), col("t.id").as("id"),
        (col("i") + 1).cast("int").as("rank"))
    val w = Window.partitionBy(col("g")).orderBy(col("s"), col("id"))
    val want = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select(col("g"), col("s"), col("id"), col("rank"))
    assert(got.count() == 13 * 7 &&
      got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("labelPropagate: two triangles joined by a bridge split into two communities") {
    // triangle {1,2,3}, triangle {10,11,12}, bridge 3-10
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L)).toDF("id1", "id2")
    val out = Similarity.labelPropagate(edges, "id1", "id2", rounds = 3)
      .as[(Long, Long)].collect().toMap
    // round-by-round hand check: labels converge to the min id of each
    // triangle; the bridge endpoints keep their triangle's majority
    assert(out.size == 6)
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(10L), out(11L), out(12L)).size == 1)
    assert(out(1L) != out(10L), s"bridge merged the triangles: $out")
  }

  test("triangleCounts: K4, triangle+tail, and a triangle-free path") {
    // K4 on {1,2,3,4}: 4 triangles, every vertex is in 3
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j))
      .toDF("id1", "id2")
    val got = Similarity.triangleCounts(k4, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle {1,2,3} with tail 3-4: vertex 4 participates in none
    val tail = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    val got2 = Similarity.triangleCounts(tail, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // path graph: no triangles anywhere
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id1", "id2")
    assert(Similarity.triangleCounts(path, "id1", "id2")
      .as[(Long, Long)].collect().toMap.values.forall(_ == 0L))
  }

  test("labelPropagate: synchronous rounds are partitioning-insensitive") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 60).map(_ =>
      (rnd.nextInt(30).toLong, 30L + rnd.nextInt(30))).distinct
    val df = edges.toDF("id1", "id2")
    val a = Similarity.labelPropagate(df, "id1", "id2", 3)
      .as[(Long, Long)].collect().toMap
    val b = Similarity.labelPropagate(df.repartition(17), "id1", "id2", 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pagerankInt == in-memory integer power iteration; partitioning-insensitive") {
    val rnd = new scala.util.Random(29)
    val edgeSeq = (1 to 80).map(_ =>
      (rnd.nextInt(25).toLong, 25L + rnd.nextInt(25))).distinct
    val df = edgeSeq.toDF("id1", "id2")
    val got = Similarity.pagerankInt(df, "id1", "id2", rounds = 4)
      .as[(Long, Long)].collect().toMap
    // in-memory reference: same scaled-integer recurrence
    val sym = edgeSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var pr = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val c = pr.map { case (u, p) => u -> (p * 85L) / (deg(u) * 100L) }
      pr = sym.groupBy(_._2).map { case (v, es) =>
        v -> (150000L + es.map(e => c(e._1)).sum)
      }
    }
    assert(got == pr)
    // invariance under a different physical layout
    val again = Similarity.pagerankInt(df.repartition(17), "id1", "id2", 4)
      .as[(Long, Long)].collect().toMap
    assert(again == got)
    // hubs exist: scores are not all equal
    assert(got.values.toSet.size > 1)
  }

  test("Rings.lookup: binary search == linear first-at-or-after, wrap to 0") {
    val rnd = new scala.util.Random(11)
    val ring = Array.fill(37)(rnd.nextLong().abs).sorted
    val owners = Array.tabulate(37)(i => i % 9)
    def linear(h: Long): Int =
      ring.indexWhere(_ >= h) match {
        case -1 => owners(0)
        case i  => owners(i)
      }
    val probes = Seq(Long.MinValue.abs.min(0L), 0L, ring.head, ring.head - 1,
      ring.last, ring.last + 1, Long.MaxValue) ++
      Seq.fill(200)(rnd.nextLong().abs)
    probes.foreach { h =>
      assert(graft.functions.Rings.lookup(h, ring, owners) == linear(h), s"h=$h")
    }
  }

  test("rerankTopK: exact cosine re-rank of a shortlist equals the " +
      "brute-force order restricted to the shortlist") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 30L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() * 2 - 1).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    // shortlist: all pairs for queries 0..2 (so re-rank over everything)
    val cands = (for { q <- 0L until 3L; n <- 0L until 30L if q != n }
      yield (q, n)).toDF("query_id", "neighbor_id")
    val got = Similarity.rerankTopK(cands, vecs, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .as[(Long, Long, Long)].collect().toSet
    val truth = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == truth)
  }

  test("kcenterCoreset == in-memory Gonzalez greedy; radius curve rises") {
    val rnd = new scala.util.Random(31)
    val vecsSeq = (0L until 40L).map(i =>
      (i, Array.fill(6)(rnd.nextDouble() * 2 - 1)))
    val vecs = vecsSeq.map { case (i, v) => (i, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      val p = na * nb; if (p > 0) d / math.sqrt(p) else 0.0
    }
    // the engine stores FLOAT vectors and casts to double — mirror that
    // rounding or far_cos diverges in the 7th decimal
    val dv = vecsSeq.map { case (i, v) =>
      (i, v.map(x => x.toFloat.toDouble)) }.toMap
    var picked = Vector(0L)
    var fars = Vector.empty[Double]
    while (picked.size < 6) {
      val cands = vecsSeq.map(_._1).filterNot(picked.contains)
        .map(i => (i, picked.map(p => cos(dv(i), dv(p))).max))
      val best = cands.minBy { case (i, bc) => (bc, i) }
      picked :+= best._1; fars :+= best._2
    }
    val got = Similarity.kcenterCoreset(vecs, "vec_id", "embedding", k = 6)
      .orderBy(col("pick_rank"))
      .select("vec_id", "far_cos")
      .as[(Long, Option[Double])].collect()
    assert(got.map(_._1).toSeq == picked)
    assert(got.head._2.isEmpty, "seed pick carries NULL far_cos")
    assert(got.tail.map(_._2.get).toSeq == fars)
    // saturation: the farthest remaining point gets closer as picks land
    assert(fars.last >= fars.head)
  }

  test("mmrRerank == in-memory greedy; a near-duplicate of pick 1 is demoted") {
    val rnd = new scala.util.Random(17)
    val base = (0L until 24L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble() * 2 - 1)))
    // vector 23 := vector whose id is the top-1 for query 0, + tiny noise,
    // so rel ranks it ~2nd but MMR must push it past diverse candidates
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      val p = na * nb; if (p > 0) d / math.sqrt(p) else 0.0
    }
    val q = base.head._2
    val top1 = base.tail.filter(_._1 < 23).maxBy(v => cos(q, v._2))
    val vecsSeq = base.map { case (i, v) =>
      if (i == 23L) (i, top1._2.map(x => x * 0.999 + 0.0003)) else (i, v)
    }
    val vecs = vecsSeq.map { case (i, v) => (i, v.map(_.toFloat).toSeq) }
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(vecs, vecs.filter(col("vec_id") < 2),
        "vec_id", "embedding", shortlist = 10, k = 4)
      .select(col("query_id"), col("neighbor_id"), col("pick_rank"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.sortBy(_._3).map(_._2).toSeq }
    // in-memory greedy with identical arithmetic and tie-breaks
    val dv = vecsSeq.toMap
    def greedy(qid: Long): Seq[Long] = {
      val rel = vecsSeq.filter(_._1 != qid)
        .map { case (i, v) => i -> cos(dv(qid), v) }
        .sortBy { case (i, r) => (-r, i) }.take(10)
      var picked = Vector(rel.head._1)
      while (picked.size < 4) {
        val cands = rel.filterNot(c => picked.contains(c._1))
          .map { case (i, r) =>
            val ms = picked.map(p => cos(dv(i), dv(p))).max
            (i, 3.0 * r - ms)
          }
        picked :+= cands.minBy { case (i, sc) => (-sc, i) }._1
      }
      picked
    }
    assert(got == Map(0L -> greedy(0L), 1L -> greedy(1L)))
    // and the diversification bites: the planted near-dup of query 0's
    // pick 1 is in the rel top-2 but NOT query 0's MMR pick 2
    val rel0 = vecsSeq.filter(_._1 != 0L)
      .map { case (i, v) => i -> cos(dv(0L), v) }
      .sortBy { case (i, r) => (-r, i) }.map(_._1)
    assert(Set(rel0(0), rel0(1)) == Set(top1._1, 23L))
    assert(got(0L)(1) != (if (got(0L).head == top1._1) 23L else top1._1))
  }

  test("block-scored ivfScoreTopK == row-form scoring, bit-for-bit — " +
      "ties, self-pairs, duplicate vectors, small cells included") {
    // corpus with exact DUPLICATE vectors (cosine-1.0 ties resolved by
    // the (neg, neighbor_id) total order), zero vectors (cosine 0.0
    // everywhere), and every id both query and corpus side (self-pair
    // exclusion on both paths)
    val rnd = new scala.util.Random(23)
    val base = (0L until 400L).map(i =>
      (i, Seq.fill(8)(rnd.nextInt(200) / 100.0 - 1.0)))
    val dups = (400L until 430L).map(i => (i, base((i % 16).toInt)._2))
    val zeros = (430L until 440L).map(i => (i, Seq.fill(8)(0.0)))
    val vecs = (base ++ dups ++ zeros).toDF("vec_id", "embedding")
    for (nlist <- Seq(8, 32); nprobe <- Seq(2, 5); k <- Seq(3, 7)) {
      val (cents, assigned) = Similarity.ivfIndexFrames(
        vecs, "vec_id", "embedding", nlist)
      def rows4(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "cos", "rank")
          .as[(Long, Long, Double, Long)].collect().toSeq.sorted
      val block = rows4(Similarity.ivfScoreTopK(
        cents, assigned, vecs, "vec_id", "embedding", k, nprobe))
      val rowsF = rows4(SimilarityReference.ivfScoreTopKRows(
        cents, assigned, vecs, "vec_id", "embedding", k, nprobe))
      assert(block == rowsF,
        s"block scoring must equal the row form (nlist=$nlist, " +
          s"nprobe=$nprobe, k=$k)")
      assert(block.nonEmpty)
    }
  }
}
