package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.operators.Crossover

/** Approximate-nearest-neighbor over an embedding column (ARRAY<FLOAT>).
  *
  *   - Brute-force cosine top-k: the exact baseline. Queries are broadcast;
  *     the corpus scan is linear and embarrassingly parallel; top-k per
  *     query via bounded two-phase aggregation (see [[bottomK]]).
  *   - LSH-bucketed (random hyperplane / SRP): the 100 TB path. Each vector
  *     gets a b-bit signature; candidates share a signature bucket, so the
  *     join touches ~n/2^b of the corpus per query instead of all of it.
  *
  * All arithmetic is done in double (floats are upcast once) with
  * `aggregate`/`zip_with` built-ins — no UDF, stays inside codegen.
  */
object Similarity {

  /** Dot product of two ARRAY<DOUBLE> columns — fused codegen'd loop
    * (graft.functions.Vectors), not the interpreted zip_with/aggregate form.
    */
  def dot(a: Column, b: Column): Column = graft.functions.Vectors.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: one generated loop for dot + both norms;
    * zero-norm → 0.0.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Vectors.cosine(a, b)

  def toDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Oracle-exactness quantization (the embed_jl_project posture, SURVEY
    * §2.18): snap each float component onto the 1e-4 integer grid via
    * floor(x·1e4 + 0.5) — identical IEEE ops in every engine, so
    * identical grids. Downstream dot products become sums of
    * integer-valued doubles far below 2^53: EXACT, order-independent,
    * immune to cross-engine float-association ties. Cosines of quantized
    * vectors are deterministic doubles (exact ints through correctly-
    * rounded mul/div/sqrt), so a floor-bucket emission can never flip a
    * digit between engines. DuckDB mirror:
    * `list_transform(v::DOUBLE[], x -> floor(x * 10000.0 + 0.5))`.
    */
  def gridQuantize(a: Column): Column =
    transform(a, x => floor(x.cast("double") * lit(10000.0) + lit(0.5))
      .cast("double"))

  /** 4-decimal display bucket of a DETERMINISTIC double (e.g. a cosine
    * of [[gridQuantize]]d vectors): floor(x·1e4)/1e4 — exact on
    * identical inputs, unlike the tie-unstable round(double, 4).
    * DuckDB mirror: `floor(x * 10000.0) / 10000.0`.
    */
  def bucket4(c: Column): Column = floor(c * lit(10000.0)) / lit(10000.0)

  /** Bounded per-group bottom-k: the k smallest values of `child` under
    * natural struct order, returned as an ascending array. Wraps Spark's
    * `CollectTopK` (a BoundedPriorityQueue TypedImperativeAggregate), so
    * the map-side partial keeps AT MOST k entries per (group, task) and
    * the shuffle carries k-element buffers — never the full scored set.
    *
    * This is the two-phase top-k that replaces the per-query
    * `row_number()` window in the full-corpus scans: that window shuffled
    * every scored row to ONE task per query and sorted the whole corpus
    * there — invisible at sf0.1, 10^11-row partitions at 100 TB.
    * Descending sort keys enter negated (exact for doubles — sign flip).
    */
  private def bottomK(child: Column, k: Int): Column =
    ColumnBridge.collectBottomK(child, k)

  /** Explode a [[bottomK]] array into ranked rows: rank = 1-based position
    * in the ascending array (ties already broken inside the sort key).
    */
  private def explodeRanked(grouped: DataFrame): DataFrame =
    grouped
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__i", "__t")))
      .withColumn("rank", (col("__i") + 1).cast("long"))

  /** Exact cosine re-rank of an ANN candidate shortlist — the standard
    * second stage behind any compressed-index scan (FAISS "refine"):
    * the shortlist (ADC / LSH / IVF top-R, R > k) sets recall, the exact
    * re-score restores precision, and only |shortlist| vectors are ever
    * re-scored — never the corpus. `cands` needs (query_id, neighbor_id);
    * output is the usual (query_id, neighbor_id, cos, rank) top-k via
    * the bounded two-phase rank (no per-query window funnel).
    */
  def rerankTopK(cands: DataFrame, vecs: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    val v = vecs.select(col(id).as("__rid"), toDouble(col(vec)).as("__v"))
    val scored = cands.select(col("query_id"), col("neighbor_id"))
      .join(v.select(col("__rid").as("neighbor_id"), col("__v").as("__cv")),
        Seq("neighbor_id"))
      .join(v.select(col("__rid").as("query_id"), col("__v").as("__qv")),
        Seq("query_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    explodeRanked(scored.groupBy(col("query_id"))
        .agg(bottomK(
          struct((-col("cos")).as("neg"),
            col("neighbor_id")), k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        (-col("__t.neg")).as("cos"), col("rank"))
  }

  /** Embedding hygiene filter — the validation pass before any index
    * build or similarity math: flags zero vectors (cosine-undefined;
    * every ANN structure misplaces them), non-finite components (one NaN
    * poisons a whole centroid), and dimension mismatches against the
    * declared width. Reports norm² rather than norm so the value is a
    * pure left-fold of the array — identical on any engine, no
    * sqrt/libm variance — which is what keeps the op oracle-checkable.
    *
    * Narrow, codegen'd kernels; validating 100 TB of vectors is one
    * embarrassingly-parallel pass, no shuffle.
    *
    * Returns the input plus (dim_ok, n_nonfinite, norm2, keep). NULL
    * components count as non-finite (isNull checked first — a bare
    * isnan(null) is NULL and filter() would skip the element, making the
    * malformed vector invisible to both the kept and rejected slices).
    */
  def normFilter(vecs: DataFrame, vec: String, dim: Int): DataFrame = {
    val v = toDouble(col(vec))
    val nonfinite = size(filter(v, x =>
      x.isNull || isnan(x) || abs(x) > Double.MaxValue))
    vecs
      .withColumn("dim_ok", size(col(vec)) === dim)
      .withColumn("n_nonfinite", nonfinite.cast("long"))
      .withColumn("norm2", dot(v, v))
      .withColumn("keep",
        col("dim_ok") && col("n_nonfinite") === 0L && col("norm2") > 0.0)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding self). Output: (query_id, neighbor_id, cos, rank).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val c = corpus.select(col(id).as("neighbor_id"), toDouble(col(vec)).as("cv"))
    val q = queries.select(col(id).as("query_id"), toDouble(col(vec)).as("qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    // two-phase top-k: bounded per-task partials, k-row merges — the
    // full-corpus score set never crosses a shuffle (see bottomK)
    explodeRanked(scored.groupBy(col("query_id"))
        .agg(bottomK(
          struct((-col("cos")).as("neg"), col("neighbor_id")), k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        (-col("__t.neg")).as("cos"), col("rank"))
  }

  /** Gonzalez k-center greedy coreset (Gonzalez 1985; the farthest-point
    * traversal behind k-center coresets for data selection): start from
    * the minimum id, then k−1 times pick the vector FARTHEST from the
    * current pick set (lowest max-cosine to any picked center, ties to
    * the smallest id). `far_cos` per pick is its similarity to the
    * nearest earlier center at selection time — the coverage-radius
    * curve as data (increasing toward 1 as the coreset saturates).
    *
    * Scale shape: per round ONE corpus-wide narrow update (the 1-row new
    * pick broadcasts; best_cos = greatest(best_cos, cos(v, pick))) and
    * ONE 1-row min-struct aggregation — k−1 linear passes, nothing but
    * (id, best_cos) ever aggregates, the state frame re-pins per round
    * so lineage stays flat. The greedy is inherently sequential across
    * picks (SURVEY §7.4 posture) but each pass is fully parallel.
    *
    * Output: (pick_rank 1..k, vec_id, far_cos — NULL for the seed pick).
    */
  def kcenterCoreset(vecs: DataFrame, id: String, vec: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // r15 opt: the per-round PICK is one row — it rides the state
    // aggregation itself (the min-struct carries the vector; vec_id is
    // unique so the trailing __v field never influences the argmin) and
    // the selection accumulates on the DRIVER, with the picked vector
    // re-entering each round as a literal (the kmeansBest centroid
    // pattern). 2 jobs/round (argmin collect + state pin) instead of the
    // old 5 (far join, pick pin, sel pin, state pin, broadcast build);
    // the corpus-sized distance state still updates distributed, one
    // narrow pass per round — the scale shape is unchanged.
    val spark = vecs.sparkSession
    val idType = vecs.schema(id).dataType
    val v = graft.operators.Pinning.pin(
      vecs.select(col(id).as("vec_id"), toDouble(col(vec)).as("__v")))
    val firstRows = v.agg(min(col("vec_id")).as("vec_id")).join(v, "vec_id")
      .select(col("vec_id"), col("__v")).collect()
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pick_rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id", idType),
      org.apache.spark.sql.types.StructField("far_cos",
        org.apache.spark.sql.types.DoubleType)))
    if (firstRows.isEmpty) { // empty corpus: no picks (the old join shape)
      graft.operators.Pinning.unpin(v)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
    val firstRow = firstRows(0)
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Any, Option[Double])]
    picks += ((1L, firstRow.get(0), None))
    var pickVec = firstRow.getSeq[Double](1)
    var state = graft.operators.Pinning.pin(
      v.select(col("vec_id"), col("__v"),
        cosine(col("__v"), typedlit(pickVec)).as("best_cos")))
    var r = 2
    while (r <= k) {
      val selIds = picks.map(_._2).toSeq
      val m = state
        .filter(!col("vec_id").isin(selIds: _*))
        .agg(min(struct(col("best_cos"), col("vec_id"), col("__v")))
          .as("__m"))
        .select(col("__m.best_cos"), col("__m.vec_id"), col("__m.__v"))
        .collect()(0)
      if (m.isNullAt(1)) r = k // corpus exhausted (k > n): stop adding,
      else {                   // the old pick-join shape produced no row
        picks += ((r.toLong, m.get(1), Some(m.getDouble(0))))
        pickVec = m.getSeq[Double](2)
      }
      if (r < k) { // the last round never consumes the updated state
        val nextState = graft.operators.Pinning.pin(
          state.select(col("vec_id"), col("__v"),
            greatest(col("best_cos"),
              cosine(col("__v"), typedlit(pickVec))).as("best_cos")))
        graft.operators.Pinning.unpin(state)
        state = nextState
      }
      r += 1
    }
    graft.operators.Pinning.unpin(state)
    graft.operators.Pinning.unpin(v)
    val rows = picks.map { case (pr, vid, fc) =>
      org.apache.spark.sql.Row(pr, vid, fc.orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), outSchema)
  }

  /** Hard-negative mining for contrastive training (the ANCE/DPR recipe):
    * for each labeled query, the top-k most-similar OTHER-label vectors —
    * the negatives a contrastive loss learns most from — with a
    * false-negative guard: candidates above `maxCos` are presumed
    * unlabeled positives and excluded (Qu et al. 2021, RocketQA's
    * denoising observation). Same scale shape as [[bruteForceTopK]]:
    * queries broadcast, the corpus streams once, and the per-query top-k
    * rides the bounded two-phase [[bottomK]] — the label carried as a
    * trailing struct field behind the already-unique (cos, id) sort key,
    * so it can never influence ranking. Swap the corpus side for an ANN
    * shortlist at 100 TB; the semantics don't change.
    *
    * Output: (query_id, neg_id, neg_label, cos, neg_rank).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, labelCol: String, k: Int, maxCos: Double): DataFrame = {
    val c = corpus.select(col(id).as("neg_id"), toDouble(col(vec)).as("cv"),
      col(labelCol).as("neg_label"))
    val q = queries.select(col(id).as("query_id"),
      toDouble(col(vec)).as("qv"), col(labelCol).as("__ql"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neg_id"))
      .filter(col("neg_label") =!= col("__ql"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .filter(col("cos") <= maxCos)
    scored.groupBy(col("query_id"))
      .agg(bottomK(struct((-col("cos")).as("neg"), col("neg_id"),
        col("neg_label")), k).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__i", "__t")))
      .select(col("query_id"), col("__t.neg_id").as("neg_id"),
        col("__t.neg_label").as("neg_label"), (-col("__t.neg")).as("cos"),
        (col("__i") + 1).cast("long").as("neg_rank"))
  }

  /** Maximal Marginal Relevance diversified re-rank (Carbonell &
    * Goldstein, SIGIR 1998) over a bounded shortlist: greedily pick k of
    * the shortlist's s candidates, each pick maximizing
    * λ·rel(d) − (1−λ)·max_{p∈picked} sim(d, p). λ is fixed at 3/4, and
    * the objective is ranked through its ×4 integer-scaled monotone form
    * 3·rel − maxsim, so both engines compare the SAME two-term double —
    * no λ rounding enters the order. Ties break on ascending candidate
    * id, making the whole greedy deterministic and oracle-replayable as
    * k−1 unrolled SQL rounds.
    *
    * Scale shape: the corpus is touched once (the shortlist top-s via the
    * bounded two-phase [[bruteForceTopK]], or any caller shortlist);
    * everything after is per-query s² pairwise sims and k−1 rounds of
    * (pick-max window over ≤ s rows per query) — all linear in |queries|,
    * never in the corpus. The greedy is inherently sequential ACROSS
    * picks but those k−1 rounds each run fully parallel across queries;
    * each round pins its one-row-per-query pick (lineage stays flat).
    *
    * Output: (query_id, neighbor_id, pick_rank 1..k, rel).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"need shortlist >= k: $shortlist, $k")
    mmrFromShortlist(
      bruteForceTopK(corpus, queries, id, vec, shortlist)
        .select(col("query_id"), col("neighbor_id").as("cand"),
          col("cos").as("rel")),
      corpus, id, vec, k)
  }

  /** [[mmrRerank]] over a CALLER-SUPPLIED relevance shortlist —
    * (query_id, cand, rel) from any retrieval stage (RRF fusion, a
    * learned scorer, an ANN index); the greedy and its scale shape are
    * identical, only the candidate source changes. `corpus` supplies the
    * vectors for the diversity penalty.
    */
  def mmrFromShortlist(shortRel: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val short = graft.operators.Pinning.pin(
      shortRel.select(col("query_id"), col("cand"), col("rel")))
    // Driver-local crossover (the Clustering G4 discipline): MMR is a
    // greedy loop over a SHORTLIST — already bounded by construction —
    // so within the budget the k rounds run on collected arrays with the
    // kernel-identical cosine and the same (score DESC, cand ASC) pick
    // rule, instead of k-1 checkpoint+shuffle rounds over a few dozen
    // rows.
    val local = Crossover.take(short, Crossover.MmrRows, "query_id", "cand")
    if (local.nonEmpty) try {
      val rows = local.get
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val cands = rows.map(_._2).distinct
      val cv0 = corpus.select(col(id).as("cand"), toDouble(col(vec)).as("__cv"))
      val spark0 = corpus.sparkSession
      import spark0.implicits._
      val vm = cv0.join(cands.toSeq.toDF("cand"), Seq("cand"), "left_semi")
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val out = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
        case (q, qr) =>
          val entries = qr.map { case (_, c, rel) => (c, rel) }
          val sel = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Double, Long)] // (cand, rel, pick_rank)
          // pick 1: max rel, ties by cand — no pair penalty yet
          val first = entries.minBy { case (c, rel) => (-rel, c) }
          sel += ((first._1, first._2, 1L))
          var r = 2
          var stuck = false
          while (r <= k && !stuck) {
            val selected = sel.map(_._1).toSet
            val scored = entries
              .filter { case (c, _) => !selected.contains(c) }
              .flatMap { case (c, rel) =>
                // pen is an INNER join on the pairwise-sim frame: a
                // candidate (or a selected pick) without a corpus vector
                // contributes no pairs and so no eligibility
                val sims = for {
                  cvv <- vm.get(c).toSeq
                  b <- sel.map(_._1)
                  bv <- vm.get(b).toSeq
                } yield cosLocal(cvv, bv)
                if (sims.isEmpty) None
                else Some((c, rel, 3.0 * rel - sims.max))
              }
            if (scored.isEmpty) stuck = true
            else {
              val (c, rel, _) =
                scored.minBy { case (c, _, s) => (-s, c) }
              sel += ((c, rel, r.toLong))
            }
            r += 1
          }
          sel.map { case (c, rel, pr) => (q, c, pr, rel) }
      }
      return out.toDF("query_id", "neighbor_id", "pick_rank", "rel")
    } finally graft.operators.Pinning.unpin(short)
    // shortlist vectors attach once (|Q|·s rows), then per-query pairwise
    // sims (|Q|·s² rows) — the corpus never re-enters
    val cv = corpus.select(col(id).as("cand"), toDouble(col(vec)).as("__cv"))
    val sv = short.select(col("query_id"), col("cand")).join(cv, "cand")
    val psim = graft.operators.Pinning.pin(
      sv.select(col("query_id"), col("cand").as("a"), col("__cv").as("av"))
        .join(sv.select(col("query_id"), col("cand").as("b"),
          col("__cv").as("bv")), Seq("query_id"))
        .filter(col("a") =!= col("b"))
        .select(col("query_id"), col("a"), col("b"),
          cosine(col("av"), col("bv")).as("sim")))
    def pick(scored: DataFrame, rank: Int): DataFrame =
      scored
        .withColumn("__rn", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("__score").desc, col("cand"))))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("cand"), col("rel"),
          lit(rank.toLong).as("pick_rank"))
    var sel = graft.operators.Pinning.pin(
      pick(short.withColumn("__score", col("rel")), 1))
    var r = 2
    while (r <= k) {
      val pen = psim
        .join(sel.select(col("query_id"), col("cand").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("cand"))
        .agg(max(col("sim")).as("__maxsim"))
      val scored = short
        .join(sel.select(col("query_id"), col("cand")),
          Seq("query_id", "cand"), "left_anti")
        .join(pen, Seq("query_id", "cand"))
        .withColumn("__score", lit(3.0) * col("rel") - col("__maxsim"))
      val next = graft.operators.Pinning.pin(
        sel.unionByName(pick(scored, r)))
      graft.operators.Pinning.unpin(sel)
      sel = next
      r += 1
    }
    graft.operators.Pinning.unpin(psim)
    graft.operators.Pinning.unpin(short)
    sel.select(col("query_id"), col("cand").as("neighbor_id"),
      col("pick_rank"), col("rel"))
  }

  /** DBSCAN (Ester et al., KDD 1996) over a similarity-pair graph. The
    * pair source is PLUGGABLE — exact [[cosineNearDupPairs]] for small
    * slices, [[lshNearDupPairs]] for the 100 TB path — so the density
    * semantics never couple to how candidates were generated.
    *
    * Roles: a node with ≥ minPts neighbors is CORE; cores connected
    * through core–core edges form one cluster (labeled by the minimum
    * core id, via the adaptive connected-components build); a non-core
    * node adjacent to a core is BORDER and joins its minimum-labeled
    * core neighbor's cluster (DBSCAN's order-dependent border tie made
    * deterministic); everything else is NOISE (cluster −1). Density
    * asymmetry is preserved: a border node does NOT glue two clusters
    * (only core–core edges merge), which is what separates DBSCAN from
    * plain connected components on the same graph.
    *
    * Plan shape: one symmetrize + degree aggregation, two semi joins to
    * classify edge endpoints, the bounded components build on the core
    * subgraph, one min-aggregation for borders — ids only in every
    * shuffle. Output: (id, degree, role, cluster).
    */
  def dbscan(nodes: DataFrame, pairs: DataFrame, id: String,
      minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    // Driver-local crossover (the G4/MMR work-gate discipline): every
    // labeled row is a function of the PAIR list alone — degrees, the
    // core set, core-subgraph components, border attachment — and the
    // node table only left-joins the result, so the graph work runs on
    // arrays and only the label table goes back, as a broadcast join
    // side. Pairs are cast to the node id type; null endpoints take the
    // distributed path, where they add degree to their non-null partner.
    val idType = nodes.schema(id).dataType
    Crossover.take(pairs.select(col("id1").cast(idType).as("id1"),
        col("id2").cast(idType).as("id2")),
        Crossover.GraphPairs, "id1", "id2") match {
      case None =>
      case Some(pl) =>
        val degM = scala.collection.mutable.LongMap.empty[Long]
        pl.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          // mirrors deg over the symmetrized union: each pair row adds 1
          // to each endpoint (a self-pair contributes 2 to its node)
          degM(a) = degM.getOrElse(a, 0L) + 1L
          degM(b) = degM.getOrElse(b, 0L) + 1L
        }
        def isCore(n: Long) = degM.getOrElse(n, 0L) >= minPts
        // min-root union-find over the core-core subgraph
        val uf = new graft.operators.Clustering.UnionFind
        pl.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          if (isCore(a) && isCore(b)) uf.union(a, b)
        }
        // core label: component min (self when no core neighbor);
        // border label: min core-neighbor cluster over all incident pairs
        val clusterOf = scala.collection.mutable.LongMap.empty[Long]
        degM.keysIterator.foreach { n => if (isCore(n)) clusterOf(n) = uf.find(n) }
        val borderM = scala.collection.mutable.LongMap.empty[Long]
        def borderVisit(n: Long, m: Long): Unit =
          if (!isCore(n) && isCore(m)) {
            val c = clusterOf(m)
            borderM(n) = math.min(borderM.getOrElse(n, Long.MaxValue), c)
          }
        pl.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          borderVisit(a, b); borderVisit(b, a)
        }
        val spark0 = pairs.sparkSession
        import spark0.implicits._
        val labeled = degM.keysIterator.map { n =>
          val (role, cluster) =
            if (isCore(n)) ("core", clusterOf(n))
            else borderM.get(n) match {
              case Some(c) => ("border", c)
              case None => ("noise", -1L)
            }
          (n, degM(n), role, cluster)
        }.toSeq.sortBy(_._1)
        val labDf = spark0.createDataset(labeled)
          .toDF("__n", "degree", "role", "cluster")
          .select(col("__n").cast(idType).as("__n"), col("degree"),
            col("role"), col("cluster").cast("long").as("cluster"))
        return nodes.select(col(id))
          .join(broadcast(labDf), col(id) === col("__n"), "left")
          .select(col(id),
            coalesce(col("degree"), lit(0L)).as("degree"),
            coalesce(col("role"), lit("noise")).as("role"),
            coalesce(col("cluster"), lit(-1L)).as("cluster"))
    }
    val edges = pairs.select(col("id1").as("n"), col("id2").as("m"))
      .unionByName(pairs.select(col("id2").as("n"), col("id1").as("m")))
    // deg is pinned (r15 opt): the degree aggregate feeds core, coreEdges
    // (via two semi-joins inside connectedComponents' edge upstream), the
    // border chain, and the final labeled join — unpinned, that whole
    // groupBy re-executed per consumer (~4 times per run). One node-sized
    // pin; `pairs` itself is the caller's (usually eager) frame.
    val deg = graft.operators.Pinning.pin(
      edges.groupBy(col("n")).agg(count(lit(1)).as("degree")))
    val core = deg.filter(col("degree") >= minPts).select(col("n"))
    val coreEdges = edges
      .join(core.withColumnRenamed("n", "__cn"), col("n") === col("__cn"),
        "left_semi")
      .join(core.withColumnRenamed("n", "__cm"), col("m") === col("__cm"),
        "left_semi")
    val comp = graft.operators.Clustering.connectedComponents(
      coreEdges.select(col("n").as("src"), col("m").as("dst")))
    // cores: component label, or self for a core with no core neighbor
    val coreClusters = core
      .join(comp.select(col("node").as("n"), col("component")), Seq("n"), "left")
      .select(col("n"), coalesce(col("component"), col("n")).as("cluster"),
        lit("core").as("role"))
    // borders: non-core endpoint adjacent to a core → min core cluster
    val borderClusters = edges
      .join(core.withColumnRenamed("n", "__cm"), col("m") === col("__cm"),
        "left_semi")
      .join(coreClusters.select(col("n").as("__b"), lit(1).as("__isCore")),
        col("n") === col("__b"), "left_anti")
      .join(coreClusters.select(col("n").as("m"), col("cluster")), Seq("m"))
      .groupBy(col("n")).agg(min(col("cluster")).as("cluster"))
      .select(col("n"), col("cluster"), lit("border").as("role"))
    val labeled = coreClusters.unionByName(borderClusters)
    nodes.select(col(id).as("n"))
      .join(deg, Seq("n"), "left")
      .join(labeled, Seq("n"), "left")
      .select(col("n").as(id),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }

  /** Top principal direction of the embedding corpus (uncentered /
    * second-moment PCA) via MATRIX-FREE power iteration: the d×d
    * covariance never materializes — each round computes
    * y = A·x = Σ_rows v·(v·x) as one corpus pass (per-row dot against
    * the broadcast direction, then d order-free DECIMAL(38,18)
    * component sums, the linearProbeTrain discipline that keeps the
    * doubles bit-replayable in any engine). The d-vector is the only
    * state between rounds; at 100 TB each iteration is one aggregation,
    * and the driver never sees data.
    *
    * The report behind "is this embedding space collapsing?": a top
    * share near 1 means one direction dominates (anisotropic /
    * degenerate embeddings); healthy spaces spread variance.
    *
    * Output: (dim 1..d, weight of the unit top direction, lambda =
    * ‖A·x‖ at the last round ≈ top eigenvalue, top_share = lambda /
    * trace(A), the explained-variance share). Deterministic: x₀ is the
    * uniform direction, every sum is order-free.
    */
  def pcaPower(corpus: DataFrame, vec: String, dim: Int,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val v = toDouble(col(vec))
    def sums(frame: DataFrame, d: Column): DataFrame = {
      val cols = (0 until dim).map(j =>
        sum((element_at(v, j + 1) * d).cast("decimal(38,18)"))
          .cast("double").as(s"__y$j"))
      frame.agg(cols.head, cols.tail: _*)
    }
    def ya = array((0 until dim).map(j => col(s"__y$j")): _*)
    val x0 = typedLit(Seq.fill(dim)(1.0 / math.sqrt(dim.toDouble)))
    var cur = sums(corpus, dot(v, x0))
    for (_ <- 2 to iters) {
      val xPrev = cur.select(
        transform(ya, e => e / sqrt(dot(ya, ya))).as("__x"))
      cur = sums(corpus.crossJoin(broadcast(xPrev)), dot(v, col("__x")))
    }
    val trace = corpus.agg(
      sum(dot(v, v).cast("decimal(38,18)")).cast("double").as("__tr"))
    val lam = sqrt(dot(ya, ya))
    cur.crossJoin(broadcast(trace))
      .select(posexplode(transform(ya, e => e / lam)).as(Seq("__i", "weight")),
        lam.as("lambda"), (lam / col("__tr")).as("top_share"))
      .select((col("__i") + 1).cast("long").as("dim"), col("weight"),
        col("lambda"), col("top_share"))
  }

  /** kNN label prediction: majority vote among each query's k nearest
    * corpus neighbors (ties to the smallest label) — the standard
    * embedding-quality eval loop (a labeled held-out slice probes
    * whether the embedding space separates classes) and the simplest
    * deployable classifier over an embedding column.
    *
    * Scale shape: the neighbor list is queries·k rows — broadcast
    * against the corpus label dimension, voted with one map-side-
    * combinable aggregation, argmaxed with `min(struct(−votes, label))`.
    * The corpus itself only flows through [[bruteForceTopK]]'s bounded
    * two-phase top-k (swap in an ANN variant for the 100 TB path; the
    * vote plumbing is identical).
    *
    * Output: (query_id, pred_label, votes).
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, label: String, k: Int): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, id, vec, k)
    val labels = corpus.select(col(id).as("neighbor_id"), col(label).as("__nl"))
    labels
      .join(broadcast(nn.select(col("query_id"), col("neighbor_id"))),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__votes"))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("__votes")).as("__nv"),
        col("__nl").as("__lab"))).as("__b"))
      .select(col("query_id"), col("__b.__lab").as("pred_label"),
        (-col("__b.__nv")).as("votes"))
  }

  /** Signed-random-projection signature: bit i = sign(v · h_i), packed into
    * a long. Hyperplane components derive from md5 of a seed-and-index tag
    * (uniform in [-1,1), symmetric — the SRP collision bound only needs a
    * sign-symmetric distribution), inlined as literals — broadcast-free,
    * codegen-friendly, and replayable by any engine with md5 (the DuckDB
    * oracle for sim_lsh_ann recomputes the identical planes).
    */
  def srpSignature(vec: Column, dim: Int, bits: Int, seed: Long = 42L): Column = {
    val planes = Array.tabulate(bits)(b => Array.tabulate(dim)(d =>
      graft.functions.Vectors.MinHashSig.md5Long60(s"graft-srp-$seed-$b-$d")
        / 5.76460752303423488e17 - 1.0))
    (0 until bits).map { i =>
      val h = typedLit(planes(i).toSeq)
      when(dot(vec, h) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Query-directed probe masks (Lv et al., VLDB 2007 §4.1 specialized
    * to SRP): the buckets worth probing first are the ones across the
    * hyperplanes the query sits CLOSEST to — |dot(v, plane_j)| is the
    * margin, and flipping the lowest-margin bits yields the buckets a
    * true neighbor most plausibly hashed into. Returns the xor masks of
    * the `m` lowest-margin bits (ties to the lower bit index), so most
    * of Hamming-1 probing's recall comes at m/bits of its fan-out.
    * Recomputes the `bits` dots on the QUERY side only — the corpus
    * side keeps signatures alone.
    */
  def srpFlipMasks(vec: Column, dim: Int, bits: Int, m: Int,
      seed: Long = 42L): Column = {
    val planes = Array.tabulate(bits)(b => Array.tabulate(dim)(d =>
      graft.functions.Vectors.MinHashSig.md5Long60(s"graft-srp-$seed-$b-$d")
        / 5.76460752303423488e17 - 1.0))
    val margins = array((0 until bits).map { j =>
      struct(abs(dot(vec, typedLit(planes(j).toSeq))).as("m"),
        lit(j).as("j"))
    }: _*)
    // 2^j via pow: exact in doubles for j < 53, and `bits` <= 62 here
    transform(slice(sort_array(margins), 1, m),
      x => pow(lit(2.0d), x.getField("j")).cast("long"))
  }

  /** IVF (inverted-file) ANN — the other standard scale path: vectors are
    * assigned to their nearest of `nlist` centroids; a query probes only the
    * `nprobe` closest lists, so the scored candidate set is ~nprobe/nlist of
    * the corpus. Centroids here are deterministic samples of the corpus
    * (seeded ids) — one k-means sweep would refine them without changing
    * the query-side plan shape.
    *
    * Plan shape at 100 TB: centroid assignment is a broadcast nested-loop
    * over `nlist` centroids (tiny) + one shuffle on list id; the probe join
    * is an equi join on list id — no all-pairs work anywhere.
    */
  /** First `nlist` vectors by id as (list_id, cvec) — the deterministic
    * centroid sample shared by [[ivfTopK]] and [[semDedup]]. List ids via
    * distributed numbering — the input is only nlist rows, but this keeps
    * src/main free of single-partition Window.orderBy entirely.
    */
  private[graft] def firstNCentroids(
      vecs: DataFrame, id: String, vec: String, nlist: Int): DataFrame =
    graft.operators.Numbering.numberBySort(
        vecs.orderBy(col(id)).limit(nlist)
          .select(col(id).as("cid"), toDouble(col(vec)).as("cvec")),
        "cid", "list_id")
      .select(col("list_id"), col("cvec"))

  /** The nlist centroids collapsed to ONE broadcast array row (sorted by
    * list_id) — the narrow-assignment side input.
    */
  private[graft] def centroidArray(centroids: DataFrame): DataFrame =
    broadcast(centroids.agg(
      sort_array(collect_list(struct(col("list_id"), col("cvec"))))
        .as("__cents")))

  /** Best cell for vector `v` by folding over the `__cents` array: strict >
    * keeps the first (lowest) list_id on cosine ties, matching the
    * windowed form's ORDER BY cd DESC, list_id. A narrow projection — no
    * nlist× row blow-up, no per-vector argmax shuffle.
    */
  private[graft] def foldBestCell(v: Column): Column = aggregate(
    col("__cents"),
    struct(lit(Double.NegativeInfinity).as("cd"), lit(0L).as("list_id")),
    (acc, c) => {
      val cd = cosine(v, c.getField("cvec"))
      when(cd > acc.getField("cd"),
        struct(cd.as("cd"), c.getField("list_id").as("list_id")))
        .otherwise(acc)
    })

  /** [[foldBestCell]].list_id as ONE fused codegen call
    * (Vectors.bestCellKernel): identical arithmetic (the CosineSimilarity
    * loop) and tie rule (strict >, array sorted by list_id), minus the
    * per-centroid HOF interpreter — the measured floor of the 100x
    * mutual-kNN build (nlist lambda evals per corpus row). The HOF form
    * above stays as the executable spec BestCellSpec diffs against.
    */
  private[graft] def bestCellId(v: Column): Column =
    graft.functions.Vectors.bestCellId(v, col("__cents"))

  /** Probe side of an IVF scan: top-nprobe lists per query as a NARROW
    * projection. The windowed form shuffled the query set WITH its
    * vectors by query_id; when queries are corpus-scale (the mutual-kNN
    * graph), that is a full-corpus vector shuffle for what is per-row
    * math. The per-row pick is the fused [[graft.functions.Vectors
    * .topCells]] kernel — identical selection and (cos desc, list_id)
    * tie order to the HOF slice(array_sort(transform(...))) form
    * (SimilarityReference.probeCellsHof, the spec BestCellSpec diffs
    * against), minus the per-centroid lambda interpreter that measured 38.4 s of the 100× components build's 81 s wall.
    * Output: (query_id, qv, list_id) — one row per probed cell.
    */
  private[graft] def probeCells(queries: DataFrame, id: String, vec: String,
      centroids: DataFrame, nprobe: Int): DataFrame =
    queries.select(col(id).as("query_id"), toDouble(col(vec)).as("qv"))
      .crossJoin(centroidArray(centroids))
      .select(col("query_id"), col("qv"),
        explode(graft.functions.Vectors.topCells(
          col("qv"), col("__cents"), nprobe)).as("list_id"))

  /** The two frames that ARE an IVF index — (centroids: list_id, cvec)
    * and (assigned: neighbor_id, cv, list_id) — split out so they can be
    * PERSISTED as parquet snapshots ([[IndexStore]]: build once, serve
    * across sessions — the 100 TB operational posture) and queried
    * through the same scoring kernel the in-session path uses.
    */
  def ivfIndexFrames(corpus: DataFrame, id: String, vec: String,
      nlist: Int,
      trained: Option[Seq[(Long, Seq[Double])]] = None):
      (DataFrame, DataFrame) = {
    // `trained`: externally trained centroids (e.g. kmeansTrain) replace
    // the deterministic sample — the refinement the comment above defers —
    // without changing the query-side plan shape in any way
    val centroids = ivfCentroids(corpus, id, vec, nlist, trained)
    (centroids, ivfAssign(centroids, corpus, id, vec))
  }

  /** The centroid frame alone — split out so a caller that derives TWO
    * frames from it (IndexStore's atomic two-table publish) can pin it
    * first and pay the sample scan once.
    */
  def ivfCentroids(corpus: DataFrame, id: String, vec: String, nlist: Int,
      trained: Option[Seq[(Long, Seq[Double])]] = None): DataFrame =
    coarseCentroids(corpus, id, vec, nlist, trained)

  /** The corpus-side assignment against GIVEN centroids: a narrow fold
    * (the corpus is the 100 TB side — never blow it up nlist× or shuffle
    * it per-vector just to pick a cell).
    */
  def ivfAssign(centroids: DataFrame, corpus: DataFrame,
      id: String, vec: String): DataFrame =
    corpus
      .select(col(id).as("neighbor_id"), toDouble(col(vec)).as("cv"))
      .crossJoin(centroidArray(centroids))
      .select(col("neighbor_id"), col("cv"),
        bestCellId(col("cv")).as("list_id"))

  /** Score queries against an IVF index given as its two frames —
    * in-session ([[ivfTopK]]) or loaded back from a persisted snapshot
    * ([[IndexStore.queryIvf]]); the kernel is byte-for-byte the same, so
    * a round-tripped index answers bit-identically (parquet stores the
    * double arrays exactly).
    */
  def ivfScoreTopK(centroids: DataFrame, assigned: DataFrame,
      queries: DataFrame, id: String, vec: String, k: Int,
      nprobe: Int): DataFrame = {
    val probes = probeCells(queries, id, vec, centroids, nprobe)
    // cell-BLOCK scoring (r15): the row-form join materialized one
    // candidate row per (query, cell vector) — ~1 KB each with both
    // 64-dim arrays aboard, 38.4M rows / 26.5 s at the 100× components
    // build — for what is per-cell math. Grouping each inverted list
    // into ONE (neighbor_id, cv) block row and scoring it with the
    // fused [[graft.functions.Vectors.cellTopK]] kernel emits only the
    // per-cell top-k entries (k per (query, probed cell)); the global
    // bounded aggregation then merges exactly the same candidates —
    // k-smallest of a union is the k-smallest of per-part k-smallests
    // under the total (neg, neighbor_id) order, and the kernel's
    // cosine is the CosineSimilarity loop bit-for-bit, so results are
    // IDENTICAL to the row form (SimilarityReference.ivfScoreTopKRows,
    // the test-scope spec SimilaritySpec diffs against). Block rows are
    // cell-sized: safe under AutoNlist's ~64-vector cells, with cell
    // drift bounded by the ivfImbalance/compact machinery.
    val blocks = assigned.groupBy(col("list_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("cv")))
        .as("__block"))
    val cellTops = probes.join(blocks, Seq("list_id"))
      .select(col("query_id"),
        explode(graft.functions.Vectors.cellTopK(
          col("qv"), col("__block"), col("query_id"), k)).as("__e"))
    explodeRanked(cellTops.groupBy(col("query_id"))
        .agg(bottomK(col("__e"), k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        (-col("__t.neg")).as("cos"), col("rank"))
  }

  /** Sentinel `nlist`: size the coarse index from the corpus itself. */
  val AutoNlist: Int = -1

  /** Constant-cell-size IVF sizing: `nlist = max(32, n/64)` — cells hold
    * ~64 vectors at any corpus size, so per-probe candidate work per
    * query stays CONSTANT as the corpus grows (fixed nlist lets cells
    * grow linearly and per-cell candidate pairs quadratically — the
    * measured 100× knee of the graph builds: 2,423 s / 2,664 s at
    * nlist=32 vs 57.7 s / 60.3 s auto-sized). The classic sqrt(n) rule
    * measured SLOWER here (169 vs 71 s at 100×): scored candidate rows
    * (n·nprobe·cellsize) price higher than assignment rows (n·nlist)
    * because scoring materializes a row per (query, candidate) while
    * assignment is one fused kernel call per corpus row
    * ([[bestCellId]]). Re-balance toward sqrt(n) only beyond ~100×,
    * where assignment's n²/64 row growth catches up.
    */
  def autoNlist(n: Long): Int =
    math.min(math.max(32L, n / 64L), Int.MaxValue.toLong).toInt

  /** Resolve an [[AutoNlist]] sentinel with one cheap count over the
    * corpus frame (a metadata-only parquet count when the corpus is a
    * table scan — negligible next to the index build it sizes).
    */
  private def resolveNlist(corpus: DataFrame, nlist: Int): Int =
    if (nlist == AutoNlist) autoNlist(corpus.count()) else nlist

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      trained: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val nl = resolveNlist(corpus, nlist)
    val (centroids, assigned) = ivfIndexFrames(corpus, id, vec, nl, trained)
    ivfScoreTopK(centroids, assigned, queries, id, vec, k, nprobe)
  }

  /** Mutual-kNN graph over the corpus — the seed structure for
    * graph-based clustering, NN-descent, and HNSW-style index builds: an
    * undirected edge (a, b) exists iff b is in a's approximate top-k AND
    * a is in b's. Mutuality prunes the asymmetric "hub" edges that make
    * raw kNN graphs useless in high dimensions.
    *
    * Built on the IVF path (every vector is both query and corpus side),
    * so 100 TB never sees the O(n²) pair space: candidates stay
    * cell-bucketed, and the mutuality check is one self-join of the
    * directed edge list on the reversed key — ids and ranks only, no
    * vectors through that shuffle. Cosine is exactly symmetric (same
    * fused kernel both directions), so the edge value is well-defined.
    *
    * Output: (id1 < id2, cos, rank1, rank2).
    */
  def mutualKnnGraph(corpus: DataFrame, id: String, vec: String, k: Int,
      nlist: Int = AutoNlist, nprobe: Int = 4): DataFrame = {
    // DEFAULT nlist is [[AutoNlist]] (constant ~64-vector cells): a
    // fixture-tuned fixed nlist is the one default that silently goes
    // quadratic at corpus scale, so the scale-safe sizing is what a
    // caller gets unless they pin a value explicitly.
    val nl = resolveNlist(corpus, nlist)
    // both directions read the directed list — materialize it once (ids,
    // cos, rank only: k rows per vector, far smaller than the corpus)
    val edges = graft.operators.Pinning.pin(
      ivfTopK(corpus, corpus, id, vec, k, nl, nprobe)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank")))
    val rev = edges.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), col("rank").as("rank2"))
    edges.join(rev, Seq("query_id", "neighbor_id"))
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id1"), col("neighbor_id").as("id2"),
        col("cos"), col("rank").as("rank1"), col("rank2"))
  }

  /** Append-only IVF index maintenance: new vectors join an EXISTING
    * index without retraining. The cell structure is frozen at the
    * BASE's deterministic centroid sample (exactly what `ivfTopK(base)`
    * builds), the delta is assigned to those frozen cells by the same
    * narrow fold, and queries probe the merged corpus — so an ingest
    * pipeline appends vectors forever (cell assignment is stateless and
    * stream-safe, the kmeansAssign posture StreamingSpec proves) and
    * only re-trains when cell-balance drift warrants it. In production
    * the base's (list_id, vector) assignment is a materialized snapshot
    * (the Federation pattern); recomputing it here keeps the operator
    * self-contained without changing semantics.
    */
  def ivfAppendTopK(base: DataFrame, delta: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      nlist: Int = AutoNlist, nprobe: Int = 4): DataFrame = {
    // AutoNlist sizes from the BASE (the frozen cell structure belongs to
    // the base corpus; appended deltas inherit it) — a fixed nlist here
    // is the same default-parameter 100× knee the graph builds had
    val nl = resolveNlist(base, nlist)
    val frozen: Seq[(Long, Seq[Double])] = firstNCentroids(base, id, vec, nl)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq: Seq[Double]))
      .sortBy(_._1).toIndexedSeq
    ivfTopK(base.unionByName(delta), queries, id, vec, k, nl, nprobe,
      trained = Some(frozen))
  }


  /** One NN-descent refinement round (Dong et al. 2011, "Efficient K-NN
    * Graph Construction for Generic Similarity Measures") over the IVF
    * directed seed graph: a vector's improved neighbor candidates are its
    * neighbors' neighbors, in both edge directions — the local-search
    * insight that makes graph ANN indexes (NN-descent, HNSW builds)
    * converge without ever touching the O(n²) pair space.
    *
    * Pipeline: seed = ivfTopK (k per node) → symmetrize (forward ∪
    * reverse, ids only) → neighbors-of-neighbors self-join (ids only,
    * ≤ (2k)² candidates per node) → distinct → exact cosine re-score with
    * vectors re-attached per surviving pair → bounded top-k.
    *
    * Scale posture (100 TB): every shuffle before re-scoring carries id
    * pairs only — the d-dim vectors join back exactly once per distinct
    * candidate; ranking is the bounded two-phase [[bottomK]], never a
    * full-width window. Deterministic throughout (exact kernel, ties by
    * ascending neighbor_id), so the whole round — seed graph included —
    * replays as a DuckDB oracle.
    *
    * Output: (query_id, neighbor_id, cos, rank) — the refined top-k.
    */
  def nnDescentRound(corpus: DataFrame, id: String, vec: String, k: Int,
      nlist: Int = AutoNlist, nprobe: Int = 4,
      seed: Option[DataFrame] = None): DataFrame = {
    val v = graft.operators.Pinning.pin(
      corpus.select(col(id).as("__id"), toDouble(col(vec)).as("__v")))
    // one count serves both the AutoNlist resolution and the broadcast
    // gate (pinned frame — the count is a scan of already-pinned blocks)
    val n = v.count()
    val nl = if (nlist == AutoNlist) autoNlist(n) else nlist
    val s = seed.getOrElse(graft.operators.Pinning.pin(
        ivfTopK(corpus, corpus, id, vec, k, nl, nprobe)))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    nnDescentStep(s, v, k, broadcastVectors = n <= 50000)
  }

  /** One refinement step over the CURRENT directed edge list: symmetrize →
    * neighbors-of-neighbors (ids only) → exact re-score → bounded top-k.
    * Shared by [[nnDescentRound]] (single step) and [[nnDescent]] (the
    * convergence loop).
    *
    * `newIds` (Dong et al. 2011 §2.3, "incremental search"): when the
    * caller knows which edges were ADDED in the previous round, only NoN
    * pairs touching at least one NEW edge need scoring. An old-old pair's
    * two edges were both in the list two rounds back, so the pair was
    * already a candidate then — and because top-k lists are MONOTONE
    * (the current list is always in the candidate set, so a slot only
    * ever improves), a pair that lost once can never enter later. The
    * incremental step therefore returns EXACTLY the full step's lists
    * (SimilaritySpec pins the equivalence per round) while the candidate
    * volume collapses as the graph converges — the last rounds, where
    * almost nothing is new, cost almost nothing. Current-list edges keep
    * their carried `cos` (same deterministic kernel that produced it)
    * instead of being re-scored.
    *
    * REQUIRED input schema for `edges` (and any caller-supplied seed):
    * (query_id, neighbor_id, cos) — the carried-score contract. A
    * score-less (query_id, neighbor_id) seed must be scored first (one
    * attach + the cosine kernel) before entering the step.
    */
  def nnDescentStep(edges: DataFrame, v: DataFrame, k: Int,
      broadcastVectors: Boolean = false,
      newIds: Option[DataFrame] = None): DataFrame =
    nnDescentStepTagged(edges, v, k, broadcastVectors, newIds).drop("__new")

  /** [[nnDescentStep]] plus a `__new` provenance flag per output edge.
    *
    * Candidate pairs are anti-joined against the CURRENT list before any
    * vector attaches, and current-list edges ride through on their carried
    * `cos` (the same deterministic kernel produced it — no re-score, no
    * re-attach). Every scored survivor is therefore new BY CONSTRUCTION
    * and every carried one old, so the flag that [[nnDescent]] needs for
    * both its convergence count and the next round's incremental-search
    * seed falls out of the union provenance — no per-round anti-join job
    * against the previous list. The flag sits LAST in the top-k sort
    * struct, behind the already-unique (cos, neighbor_id) key, so it can
    * never influence ranking.
    */
  private[pipeline] def nnDescentStepTagged(edges: DataFrame, v: DataFrame,
      k: Int, broadcastVectors: Boolean = false,
      newIds: Option[DataFrame] = None): DataFrame = {
    require(edges.columns.contains("cos"),
      "nnDescentStep: edges must carry (query_id, neighbor_id, cos) — " +
        "current-list edges ride on their carried score; score a raw " +
        "(query_id, neighbor_id) seed before passing it in")
    val seed = edges.select(col("query_id"), col("neighbor_id"))
    def side(d: DataFrame) = if (broadcastVectors) broadcast(d) else d
    def swap(d: DataFrame) = d.select(
      col("neighbor_id").as("query_id"), col("query_id").as("neighbor_id"))
    // no distinct on the symmetrized list: duplicate undirected edges only
    // duplicate NoN candidate rows, which the candidates distinct removes
    // anyway — the dedup shuffle here was one whole stage per round of
    // pure overhead
    val allUnd = seed.union(swap(seed))
    val non = newIds match {
      case None =>
        // full sweep: every edge counts as new
        allUnd.toDF("query_id", "__mid")
          .join(allUnd.toDF("__mid", "neighbor_id"), Seq("__mid"))
      case Some(fresh) =>
        // Dong et al. incremental search: a new-involving NoN pair has a
        // NEW edge on at least one side, so instead of enumerating the
        // full (2k)²-per-node product and filtering, join the (shrinking)
        // new-edge undirected list against the full list from EACH side —
        // new⋈all covers new-first pairs, all⋈new covers new-second; the
        // overlap (new⋈new) duplicates rows the candidates distinct
        // removes anyway. As the graph converges the new side collapses,
        // and with it the whole round's candidate volume — old-old pairs
        // are never materialized at all.
        val newU = fresh.select(col("query_id"), col("neighbor_id"))
        val newUnd = newU.union(swap(newU))
        side(newUnd.toDF("query_id", "__mid"))
            .join(allUnd.toDF("__mid", "neighbor_id"), Seq("__mid"))
          .union(allUnd.toDF("query_id", "__mid")
            .join(side(newUnd.toDF("__mid", "neighbor_id")), Seq("__mid")))
    }
    // known-edge pairs drop BEFORE the distinct (map-side under the
    // broadcast gate; at corpus scale the (q,n)-keyed anti-join shuffle is
    // reused by the distinct on the same keys), so the dedup and both
    // vector attaches only ever see genuinely fresh pairs.
    val candidates = non
      .select(col("query_id"), col("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(side(seed), Seq("query_id", "neighbor_id"), "left_anti")
      .distinct()
    // The candidate pair list (~n·(2k)² rows on a full sweep) dwarfs the
    // vector table (n rows): shuffling the pairs TWICE to attach vectors
    // is the per-round bottleneck. Under the size gate (caller counted n)
    // the vector table broadcasts instead and both attaches go map-side —
    // the gate keeps the unbounded-broadcast failure mode out at corpus
    // scale, where the plain equi joins remain the plan.
    val scoredFresh = candidates
      .join(side(v.select(col("__id").as("query_id"), col("__v").as("qv"))),
        Seq("query_id"))
      .join(side(v.select(col("__id").as("neighbor_id"), col("__v").as("cv"))),
        Seq("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        lit(true).as("__new"))
    val all = scoredFresh.union(
      edges.select(col("query_id"), col("neighbor_id"), col("cos"),
        lit(false).as("__new")))
    explodeRanked(all.groupBy(col("query_id"))
        .agg(bottomK(
          struct((-col("cos")).as("neg"), col("neighbor_id"), col("__new")),
          k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        (-col("__t.neg")).as("cos"), col("rank"), col("__t.__new").as("__new"))
  }

  /** NN-descent TO CONVERGENCE (Dong et al. 2011 §2.2): iterate
    * [[nnDescentStep]] until the round admits fewer than `delta`·n·k NEW
    * entries into the top-k lists (delta = 0 → run to the exact fixed
    * point, where a further round provably changes nothing: zero new
    * candidate edges means the re-score set and therefore the ranked
    * lists are identical), or `maxRounds` as the safety cap. This is the
    * BUILD form of the graph index — the single round is the refine form.
    *
    * Loop posture (the k-rows-per-round pattern shared with kmeans /
    * labelPropagate / pagerankInt): each round's edge list is
    * localCheckpoint()ed to keep lineage flat across iterations, and the
    * only driver-side value per round is the scalar new-edge COUNT (an
    * ids-only anti-join count — never edge data). Every shuffle inside a
    * round carries id pairs; vectors attach once per distinct candidate.
    */
  def nnDescent(corpus: DataFrame, id: String, vec: String, k: Int,
      nlist: Int = AutoNlist, nprobe: Int = 4, maxRounds: Int = 8,
      delta: Double = 0.0, seed: Option[DataFrame] = None): DataFrame = {
    val v = graft.operators.Pinning.pin(
      corpus.select(col(id).as("__id"), toDouble(col(vec)).as("__v")))
    // count BEFORE the seed build: it resolves the AutoNlist default
    // (constant ~64-vector cells — the fixture-tuned fixed-nlist seed is
    // the measured 100× quadratic knee) as well as the broadcast gate
    val n = v.count()
    val nl = if (nlist == AutoNlist) autoNlist(n) else nlist
    // Driver-local crossover (the Clustering G4 discipline): within the
    // n·k work gate the whole descent loop — NoN candidates, kernel
    // cosine re-score, top-k, convergence count — runs on collected
    // arrays with BIT-IDENTICAL doubles and tie rules (SimilaritySpec
    // pins local == forced-Spark lists per fixture). The per-round
    // Spark fixed cost (checkpoint + count + ~4 shuffles) dominates at
    // fixture scale. The work unit is n·k — edge-list rows — because
    // local memory and per-round work are both O(n·k²).
    if (Crossover.fits(n * k, Crossover.NnDescentWork)) {
      // try/finally: an exception mid-collect must not leak the pinned
      // vector blocks for the session (ADVICE r12 — the batch operators'
      // unpin discipline applies to the local crossovers too)
      try {
        val seedDf = seed.getOrElse(ivfTopK(corpus, corpus, id, vec, k, nl,
          nprobe))
        val out = nnDescentLocal(
          seedDf.select(col("query_id"), col("neighbor_id"), col("cos"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
          v.collect()
            .map(r => r.getLong(0) ->
              r.getSeq[Double](1).toArray).toMap,
          k, maxRounds, delta * n * k)
        val spark = corpus.sparkSession
        import spark.implicits._
        return out.toDF("query_id", "neighbor_id", "cos", "rank")
      } finally graft.operators.Pinning.unpin(v)
    }
    var topk = graft.operators.Pinning.pin(seed
      .getOrElse(ivfTopK(corpus, corpus, id, vec, k, nl, nprobe))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank")))
    val threshold = delta * n * k
    // 64-dim doubles ≈ 520 B/row → 50k rows ≈ 26 MB, comfortably under
    // Spark's broadcast ceiling; beyond it the attach joins stay plain
    val bcast = n <= 50000
    var r = 0
    var converged = false
    // which edges the LAST round added — None on round 0 (everything is
    // new, the step runs the full NoN sweep); thereafter the incremental
    // step scores only new-involving pairs (see nnDescentStepTagged) so
    // round cost tracks the shrinking churn, not the graph size
    var fresh: Option[DataFrame] = None
    // (Round FUSION — two lazy steps per materialization — was tried and
    // reverted: without checkpointing the midpoint, the inner step's
    // subplan is re-executed once per consumer (~6×) and the doubled tree
    // blows up Catalyst optimization time, costing far more than the
    // barrier it saves. One checkpointed step per round is the optimum.)
    while (r < maxRounds && !converged) {
      // one materialization per round: the tagged step's __new provenance
      // flag IS the new-edge set, so the convergence count is a plain
      // filter-scan over the freshly checkpointed blocks and the next
      // round's incremental seed is the same filter — no anti-join job
      // against the previous list, nothing extra to checkpoint
      val next = graft.operators.Pinning.pin(
        nnDescentStepTagged(topk, v, k, broadcastVectors = bcast,
          newIds = fresh))
      val freshNext = next.filter(col("__new"))
        .select(col("query_id"), col("neighbor_id"))
      val newEdges = freshNext.count()
      if (sys.env.contains("GRAFT_NND_DEBUG"))
        System.err.println(s"[nnDescent] round=$r new=$newEdges t=${System.nanoTime()/1e9}")
      // the superseded round's pinned blocks are dead from here on — free
      // them now instead of letting them pile up in the block manager for
      // the session's remaining queries (round 0's topk is OUR pin of the
      // caller's seed — never the caller's own blocks — so the unpin is
      // unconditional; `fresh` shares the superseded round's blocks, so
      // the one unpin frees both views)
      graft.operators.Pinning.unpin(topk)
      topk = next.select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank"))
      fresh = Some(freshNext)
      converged = newEdges <= threshold
      r += 1
    }
    // the final lists are pinned blocks — the vector table is no longer
    // an input of anything returned, so its pin is freed here (nothing
    // this call pinned outlives the returned graph)
    graft.operators.Pinning.unpin(v)
    topk
  }

  /** Kernel-identical local cosine: the exact sequential loop of
    * [[graft.functions.Vectors.CosineSimilarity]] (dot and both norms in
    * one pass, zero-norm → 0.0), so a driver-local crossover emits the
    * same doubles the codegen kernel would.
    */
  private[pipeline] def cosLocal(x: Array[Double],
      y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x(i); val yi = y(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val d = na * nb
    if (d > 0) dot / math.sqrt(d) else 0.0
  }

  /** Driver-local NN-descent loop — the [[nnDescent]] crossover body.
    * Replicates the distributed rounds exactly: symmetrize → NoN
    * candidates (full sweep on round 0, new-involving only after —
    * Dong §2.3) → exclude current pairs → kernel-cosine score → per-node
    * top-k by (cos DESC, neighbor ASC) merging carried entries →
    * converge when a round admits ≤ `threshold` new entries. Carried
    * entries keep their cos; re-scoring would produce the same double
    * (same kernel), so flag provenance is the only difference — exactly
    * the distributed step's contract.
    */
  private[pipeline] def nnDescentLocal(
      seed: Array[(Long, Long, Double)],
      vecs: Map[Long, Array[Double]],
      k: Int, maxRounds: Int, threshold: Double):
      Seq[(Long, Long, Double, Long)] = {
    import scala.collection.mutable
    // current ranked lists: node -> (nbr, cos) in rank order
    var lists: mutable.LinkedHashMap[Long, IndexedSeq[(Long, Double)]] = {
      val m = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[(Long, Double)]]
      seed.foreach { case (q, nb, c) =>
        m.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((nb, c))
      }
      m.map { case (q, b) =>
        q -> b.sortBy { case (nb, c) => (-c, nb) }.toIndexedSeq
      }
    }
    var fresh: Option[Array[(Long, Long)]] = None
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val edgeSet = mutable.HashSet.empty[(Long, Long)]
      lists.foreach { case (q, l) => l.foreach { case (nb, _) =>
        edgeSet += ((q, nb)) } }
      // undirected adjacency: mid -> endpoints (both edge directions)
      val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
      edgeSet.foreach { case (a, b) =>
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      }
      val cand = mutable.HashSet.empty[(Long, Long)]
      def emit(a: Long, b: Long): Unit =
        if (a != b && !edgeSet.contains((a, b))) cand += ((a, b))
      fresh match {
        case None =>
          // full sweep: all-pairs through each midpoint
          adj.foreach { case (_, ends) =>
            var i = 0
            while (i < ends.length) {
              var j = 0
              while (j < ends.length) {
                if (i != j) emit(ends(i), ends(j))
                j += 1
              }
              i += 1
            }
          }
        case Some(newEdges) =>
          // new-involving pairs only: newUnd ⋈ allUnd from each side
          val newAdj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
          newEdges.foreach { case (a, b) =>
            newAdj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
            newAdj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
          }
          newAdj.foreach { case (mid, newEnds) =>
            val allEnds = adj.getOrElse(mid, mutable.ArrayBuffer.empty)
            newEnds.foreach { ne =>
              allEnds.foreach { ae => emit(ne, ae); emit(ae, ne) }
            }
          }
      }
      // merge carried + scored-fresh, top-k by (cos desc, nbr asc).
      // Scoring drops pairs whose vector is absent (vecs.get, not apply)
      // and the merge runs over lists.keySet ++ freshByQ.keySet — the
      // distributed step's inner-join vector attach and groupBy(query_id)
      // respectively, so a PARTIAL caller seed (query ids appearing only
      // as neighbors, seed ids absent from the corpus) takes the same
      // path here as in the Spark loop (ADVICE r12-medium: the old merge
      // rewrote only existing keys, silently dropping fresh-only query
      // ids, and vecs(q) threw on out-of-corpus seed ids).
      val freshByQ = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Double)]]
      cand.foreach { case (q, nb) =>
        for (vq <- vecs.get(q); vn <- vecs.get(nb))
          freshByQ.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
            ((nb, cosLocal(vq, vn)))
      }
      var newCount = 0L
      val freshOut = mutable.ArrayBuffer.empty[(Long, Long)]
      lists = (lists.keysIterator ++ freshByQ.keysIterator)
        .foldLeft(mutable.LinkedHashMap.empty[Long, IndexedSeq[(Long, Double)]]) {
          case (acc, q) if acc.contains(q) => acc
          case (acc, q) =>
            val carried = lists.getOrElse(q, IndexedSeq.empty)
            val merged = carried.map { case (nb, c) => (nb, c, false) } ++
              freshByQ.getOrElse(q, mutable.ArrayBuffer.empty)
                .map { case (nb, c) => (nb, c, true) }
            val top = merged.sortBy { case (nb, c, _) => (-c, nb) }.take(k)
            top.foreach { case (nb, _, isNew) =>
              if (isNew) { newCount += 1; freshOut += ((q, nb)) } }
            acc += (q -> top.map { case (nb, c, _) => (nb, c) }.toIndexedSeq)
        }
      fresh = Some(freshOut.toArray)
      converged = newCount <= threshold
      r += 1
    }
    lists.toSeq.sortBy(_._1).flatMap { case (q, l) =>
      l.zipWithIndex.map { case ((nb, c), i) => (q, nb, c, (i + 1).toLong) }
    }
  }

  /** SemDedup-style semantic dedup: coarse-cluster the corpus into `nlist`
    * IVF cells (deterministic centroids = first `nlist` vectors by id, as
    * in [[ivfTopK]]), then compare ONLY within a cell — a row is dropped
    * iff a lower-id cell-mate sits at cosine >= `tau`. Cross-cell pairs are
    * never generated, so the O(n²) pair space collapses to Σ|cell|² with
    * the cell id as the single shuffle key — the 100 TB form of
    * [[cosineNearDupPairs]] (raise `nlist` as the corpus grows to hold
    * |cell| bounded). Keep-lowest-id is a pure per-pair rule, so the kept
    * set is deterministic and independent of partitioning.
    *
    * Output: (id, list_id, keep, dup_of, dup_cos) — `dup_of` the lowest-id
    * cell-mate above `tau` (null when kept), `dup_cos` its cosine.
    */
  def semDedup(vecs: DataFrame, id: String, vec: String,
      tau: Double, nlist: Int = 16): DataFrame = {
    // Assignment is a NARROW map (see foldBestCell): no nlist× row
    // blow-up, no per-vector argmax shuffle.
    val assigned = vecs
      .select(col(id).as("__id"), toDouble(col(vec)).as("__v"))
      .crossJoin(centroidArray(firstNCentroids(vecs, id, vec, nlist)))
      .select(col("__id"), col("__v"),
        bestCellId(col("__v")).as("list_id"))
    val dups = assigned.select(col("list_id"), col("__id").as("id1"), col("__v").as("v1"))
      .join(assigned.select(col("list_id"), col("__id").as("id2"), col("__v").as("v2")),
        Seq("list_id"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= tau)
      .groupBy(col("id2"))
      .agg(min(struct(col("id1"), col("cos"))).as("d"))
      .select(col("id2").as("__id"),
        col("d.id1").as("dup_of"), col("d.cos").as("dup_cos"))
    assigned.join(dups, Seq("__id"), "left")
      .select(col("__id").as(id), col("list_id"),
        col("dup_of").isNull.as("keep"), col("dup_of"), col("dup_cos"))
  }

  /** Embedding-cosine near-duplicate pairs: all (i<j) pairs above
    * `minCos` — the dedup-family verification form (exact over a bounded
    * set; compose with `lshTopK`/`ivfTopK` candidates at scale).
    */
  def cosineNearDupPairs(vecs: DataFrame, id: String, vec: String,
      minCos: Double): DataFrame = {
    val a = vecs.select(col(id).as("id1"), toDouble(col(vec)).as("v1"))
    val b = vecs.select(col(id).as("id2"), toDouble(col(vec)).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** LSH-bucketed embedding near-dup — the 100 TB form of
    * [[cosineNearDupPairs]]: SRP signatures bucket the corpus, only
    * same-(table, bucket) id pairs are generated (ids only through the
    * shuffle), and the exact cosine verifies each surviving pair. Never
    * materializes the O(n²) pair space; recall follows the SRP collision
    * probability (raise `tables` / lower `bits` to trade cost for recall).
    * Output: (id1, id2, cos) with id1 < id2 and cos >= minCos.
    */
  def lshNearDupPairs(
      vecs: DataFrame, id: String, vec: String, dim: Int,
      minCos: Double, bits: Int = 8, tables: Int = 4): DataFrame = {
    val sigs = (0 until tables).map(t =>
      srpSignature(toDouble(col(vec)), dim, bits, 42L + t))
    // no cache(): the signature projection is narrow codegen over the
    // (session-cached) input and recomputes cheaply for its three uses —
    // a cache here would pin corpus+signatures in executor storage for
    // the session lifetime with no unpersist point in a lazy API
    val v = vecs.select(col(id).as("__id") +: toDouble(col(vec)).as("__v") +:
      sigs.zipWithIndex.map { case (s, i) => s.as(s"sig$i") }: _*)
    def buckets(idAs: String) = v.select(
      col("__id").as(idAs),
      posexplode(array((0 until tables).map(i => col(s"sig$i")): _*))
        .as(Seq("tbl", "bucket")))
    val candidates = buckets("id1")
      .join(buckets("id2"), Seq("tbl", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    candidates
      .join(v.select(col("__id").as("id1"), col("__v").as("v1")), Seq("id1"))
      .join(v.select(col("__id").as("id2"), col("__v").as("v2")), Seq("id2"))
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Symmetric int8 quantization of an embedding: q_i = ⌊x_i·127/max|x| +
    * 0.5⌋ (explicit floor(+0.5) rather than `round` — engines disagree on
    * round-half semantics, floor does not), scale = max|x|/127. Returns a
    * struct (q: ARRAY<INT>, scale: DOUBLE); x ≈ q·scale with ≤ scale/2
    * per-component error. The 4× size cut is what makes a 100 TB vector
    * corpus scannable: the quantized scan reads a quarter of the bytes and
    * the dot product runs on ints; exact float re-ranking happens only on
    * the top candidates.
    */
  def quantize8(vec: Column): Column = {
    val v = toDouble(vec)
    val mx = array_max(transform(v, x => abs(x)))
    val q = when(mx === 0d, transform(v, _ => lit(0).cast("int")))
      .otherwise(transform(v,
        x => floor(x * lit(127.0) / mx + lit(0.5)).cast("int")))
    struct(q.as("q"), (mx / lit(127.0)).as("scale"))
  }

  /** Quantized brute-force top-k: scores every (query, corpus) pair on the
    * int8 dot product rescaled by both scales — the cheap first pass whose
    * survivors a production pipeline re-ranks with [[bruteForceTopK]] on
    * floats. Same plan shape as the exact scan (broadcast queries, linear
    * corpus pass, bounded two-phase top-k); the integer dot is exact, so the
    * score is bit-reproducible by any engine.
    * Output: (query_id, neighbor_id, qdot, approx, rank).
    */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    def quant(df: DataFrame, idAs: String, p: String) =
      df.select(col(id).as(idAs), quantize8(col(vec)).as("__qz"))
        .select(col(idAs), col("__qz.q").as(p + "q"),
          col("__qz.scale").as(p + "s"))
    val c = quant(corpus, "neighbor_id", "c")
    val q = quant(queries, "query_id", "q")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot",
        dot(transform(col("qq"), _.cast("double")),
            transform(col("cq"), _.cast("double"))).cast("long"))
      .withColumn("approx", col("qdot") * col("qs") * col("cs"))
    // two-phase top-k (see bottomK): no per-query full-corpus window
    explodeRanked(scored.groupBy(col("query_id"))
        .agg(bottomK(
          struct((-col("approx")).as("neg"), col("neighbor_id"),
            col("qdot")), k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        col("__t.qdot").as("qdot"), (-col("__t.neg")).as("approx"),
        col("rank"))
  }

  /** LSH-bucketed ANN: probe only same-signature buckets (redundancy via
    * `tables` independent signatures). Recall < 1; the scale path.
    * Output: (query_id, neighbor_id, cos) — candidates above minCos.
    *
    * `probeHamming = 1` turns on MULTI-PROBE (Lv et al., VLDB 2007
    * "Multi-probe LSH"): each query additionally probes every bucket at
    * Hamming distance 1 from its own signature — for SRP, the buckets a
    * near neighbor most likely fell into when one hyperplane cut between
    * the pair. Recall rises toward that of `bits`+1-fold more tables at
    * the cost of (bits+1)× QUERY bucket rows (ids only — the corpus side,
    * which is what matters at 100 TB, is untouched: same one index, same
    * storage, same corpus-side shuffle).
    *
    * `probeSeq = m` (with `probeHamming = 1`) switches to the
    * QUERY-DIRECTED probe sequence ([[srpFlipMasks]]): only the m
    * lowest-margin bits flip, so the probe fan-out drops from bits+1 to
    * m+1 per table while keeping the probes most likely to hold a true
    * neighbor. 0 = probe all bits (the uniform Hamming-1 ball).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, dim: Int, k: Int,
      bits: Int = 12, tables: Int = 4, probeHamming: Int = 0,
      probeSeq: Int = 0): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1,
      s"only Hamming radii 0 and 1 are supported: $probeHamming")
    require(probeSeq == 0 || (probeHamming == 1 && probeSeq <= bits),
      s"probeSeq needs probeHamming=1 and probeSeq <= bits: $probeSeq")
    val sigs = (0 until tables).map(t => srpSignature(toDouble(col(vec)), dim, bits, 42L + t))
    def withSigs(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col(id).as(idAs) +: toDouble(col(vec)).as(vecAs) +:
        sigs.zipWithIndex.map { case (s, i) => s.as(s"sig$i") }: _*)
    // No pins (r15 opt, guide §1.2): the two consumers of each side want
    // DISJOINT column sets — the bucket explode reads (id, sigs), the
    // vector attach reads (id, vec) — so lazy subtrees let Catalyst prune
    // each pass to exactly its columns and the signature kernel runs ONCE
    // (in the bucket branch only). The old per-call pins materialized
    // id+vec+sigs for both sides (two pin jobs, ~0.6 s/call locally) and
    // at scale forced a corpus-sized (vec+sigs) copy into block storage
    // that column pruning never needs.
    val c = withSigs(corpus, "neighbor_id", "cv")
    val q = withSigs(queries, "query_id", "qv")
    // candidate generation carries IDS ONLY — the d-dim vectors are joined
    // back once per surviving pair, not dragged through union+distinct.
    // All tables join at once on the composite (table, bucket) key: one
    // shuffle instead of `tables` separate join stages.
    def explodedBuckets(df: DataFrame, idCol: String) = df.select(
      col(idCol),
      posexplode(array((0 until tables).map(i => col(s"sig$i")): _*))
        .as(Seq("tbl", "bucket")))
    val qBuckets = {
      val exact = explodedBuckets(q, "query_id")
      if (probeHamming == 0) exact
      else if (probeSeq == 0)
        exact.select(col("query_id"), col("tbl"),
          explode(array(col("bucket") +: (0 until bits).map(j =>
            col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))
      else
        // query-directed sequence: per table, flip only the probeSeq
        // lowest-margin bits (the margins re-derive from qv — query side
        // only, the corpus index is untouched)
        q.select(col("query_id"),
            posexplode(array((0 until tables).map(i =>
              struct(col(s"sig$i").as("sig"),
                srpFlipMasks(col("qv"), dim, bits, probeSeq, 42L + i)
                  .as("masks"))): _*)).as(Seq("tbl", "sm")))
          .select(col("query_id"), col("tbl"),
            explode(concat(array(col("sm.sig")),
              transform(col("sm.masks"),
                mask => col("sm.sig").bitwiseXOR(mask)))).as("bucket"))
    }
    val candidates = explodedBuckets(c, "neighbor_id")
      .join(qBuckets, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val scored = candidates
      .join(q.select(col("query_id"), col("qv")), Seq("query_id"))
      .join(c.select(col("neighbor_id"), col("cv")), Seq("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    // bounded two-phase rank (see bottomK) over the pruned candidates
    explodeRanked(scored.groupBy(col("query_id"))
        .agg(bottomK(
          struct((-col("cos")).as("neg"), col("neighbor_id")), k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        (-col("__t.neg")).as("cos"), col("rank"))
  }

  /** Lloyd's k-means over the embedding column — the centroid TRAINING
    * step the IVF comment above defers ("one k-means sweep would refine
    * them"): seeds = the deterministic first-k-by-id sample, then `iters`
    * assign/update rounds under squared-L2, then a final assignment.
    *
    * Deterministic end to end, so the full iteration is replayable by the
    * DuckDB oracle: ties in the per-vector argmin break by ascending
    * list_id (lexicographic struct `least`), and a cell that loses all
    * members keeps its previous centroid.
    *
    * Scale posture (100 TB of vectors): per round, assignment is a NARROW
    * projection — the k centroids are inlined as literal arrays (the
    * srpSignature pattern) and folded per row, so the corpus never
    * shuffles and never blows up k×; the update is one map-side-combinable
    * aggregation producing k rows. Only k×dim doubles cross the driver per
    * round (the MLlib posture). Cost: iters+1 linear passes.
    *
    * Returns (id, list_id, dist2) under the final centroids.
    */
  /** The (dist², list_id) argmin over literal centroids — `least()` over
    * structs picks the nearest cell, lowest list id on exact ties. A pure
    * narrow expression: usable verbatim on a stream.
    */
  private def kmeansBest(
      v: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    // fused codegen'd kernel (same sequential summation as the zip_with/
    // aggregate fold, identical doubles) — k of these per corpus row is
    // the assignment hot path
    def dist2(c: Seq[Double]): Column =
      graft.functions.Vectors.l2sq(v, typedLit(c))
    least(cents.map { case (lid, c) =>
      struct(dist2(c).as("d2"), lit(lid).as("list_id"))
    }: _*)
  }

  /** The Lloyd iteration only: returns the trained (list_id, centroid)
    * pairs. Seeds = first k by id; `iters` assign/update rounds; a cell
    * that loses all members keeps its previous centroid.
    */
  def kmeansTrain(
      vecs: DataFrame, id: String, vec: String,
      k: Int, dim: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    val v = vecs.select(col(id).as("__vid"), toDouble(col(vec)).as("__v"))
    var cents: Seq[(Long, Seq[Double])] = firstNCentroids(vecs, id, vec, k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    for (_ <- 0 until iters) {
      // centroid mean via EXACT decimal sums: double summation order
      // depends on partitioning, and a ulp near an argmin tie would flip
      // assignments between runs (and against the DuckDB oracle). Each
      // component rounds once to DECIMAL(38,18) — deterministic per
      // element — the sum is exact integer arithmetic (order-free), and
      // one cast back to double + one division close it out.
      val updated = v.select(col("__vid"), col("__v"),
          kmeansBest(col("__v"), cents).getField("list_id").as("list_id"))
        .groupBy(col("list_id"))
        .agg(array((0 until dim).map(i =>
          sum(element_at(col("__v"), i + 1).cast("decimal(38,18)"))
            .cast("double") / count(lit(1))): _*).as("cvec"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
        .toMap
      cents = cents.map { case (lid, old) =>
        (lid, updated.getOrElse(lid, old))
      }
    }
    cents
  }

  /** Assignment under fixed centroids — stateless and narrow, so the same
    * definition scores a batch corpus or a vector STREAM (index-time
    * cell routing on ingest) unchanged; StreamingSpec proves equivalence.
    */
  def kmeansAssign(
      vecs: DataFrame, id: String, vec: String,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val best = kmeansBest(toDouble(col(vec)), cents)
    vecs.select(col(id),
      best.getField("list_id").as("list_id"),
      best.getField("d2").as("dist2"))
  }

  def kmeansAssignments(
      vecs: DataFrame, id: String, vec: String,
      k: Int, dim: Int, iters: Int): DataFrame =
    kmeansAssign(vecs, id, vec, kmeansTrain(vecs, id, vec, k, dim, iters))

  /** Product quantization (Jégou et al., "Product quantization for nearest
    * neighbor search", IEEE TPAMI 2011): the vector splits into `m`
    * subspaces, each k-means-quantized independently; a vector compresses
    * to m small codes and approximate distance is the sum of per-subspace
    * LUT distances (ADC). At 100 TB this is the memory lever IVF alone
    * lacks: a 64-dim float vector (256 B) becomes m bytes of codes, so the
    * scan reads codes, not vectors.
    *
    * `subs`: one (startIdx 1-based, length, centroids) per subspace.
    */
  final case class PqModel(subs: Seq[(Int, Int, Seq[(Long, Seq[Double])])])

  /** Train per-subspace codebooks — the m Lloyd sweeps run JOINTLY: every
    * iteration is ONE corpus pass (subspace assignment is a narrow
    * projection per slice; the update explodes each row into its m
    * subvectors and aggregates means keyed on (subspace, cell) — the same
    * total bytes as m separate sweeps, but one job per round instead of
    * m). Seeds, assignment tie-breaks, and the exact-decimal means are
    * identical to running [[kmeansTrain]] per slice, so results and the
    * per-subspace replay oracles are unchanged. k·m·(dim/m) doubles cross
    * the driver per round.
    */
  def pqTrain(vecs: DataFrame, id: String, vec: String,
      m: Int, dim: Int, k: Int, iters: Int): PqModel = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val len = dim / m
    val v = vecs.select(col(id).as("__vid"), toDouble(col(vec)).as("__v"))
    // seeds: first k vectors by id, sliced per subspace (one pass; the
    // same rows firstNCentroids picks for each sliced projection)
    val seeds = firstNCentroids(vecs, id, vec, k).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    val cents: Array[Seq[(Long, Seq[Double])]] = Array.tabulate(m) { j =>
      seeds.map { case (lid, c) => (lid, c.slice(j * len, (j + 1) * len)) }
    }
    for (_ <- 0 until iters) {
      val subCols = (0 until m).map { j =>
        val sv = slice(col("__v"), 1 + j * len, len)
        struct(lit(j).as("j"),
          kmeansBest(sv, cents(j)).getField("list_id").as("list_id"),
          sv.as("sv"))
      }
      val updated = v
        .select(explode(array(subCols: _*)).as("e"))
        .select(col("e.j").as("j"), col("e.list_id").as("list_id"),
          col("e.sv").as("sv"))
        .groupBy(col("j"), col("list_id"))
        .agg(array((0 until len).map(i =>
          sum(element_at(col("sv"), i + 1).cast("decimal(38,18)"))
            .cast("double") / count(lit(1))): _*).as("cvec"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) ->
          r.getSeq[Double](2).toIndexedSeq)
        .toMap
      for (j <- 0 until m)
        cents(j) = cents(j).map { case (lid, old) =>
          (lid, updated.getOrElse((j, lid), old))
        }
    }
    PqModel((0 until m).map(j => (1 + j * len, len, cents(j))))
  }

  /** Encode: ONE narrow projection emitting every subspace code — the
    * compression pass (and, unchanged, the stream encoder on ingest).
    * `keep` carries extra columns (e.g. the IVF cell id) through the
    * projection without a join back.
    */
  def pqEncode(vecs: DataFrame, id: String, vec: String,
      model: PqModel, keep: Seq[String] = Nil): DataFrame =
    vecs.select(col(id) +: (keep.map(col) ++
      model.subs.zipWithIndex.map {
        case ((start, len, cents), j) =>
          kmeansBest(toDouble(slice(col(vec), start, len)), cents)
            .getField("list_id").as(s"code_${j + 1}")
      }): _*)

  /** IVF-PQ (Jégou et al. 2011 §V, the FAISS IVFPQ shape): coarse IVF
    * cells prune the scan to nprobe cells per query, and within the
    * probed cells candidates are scanned as PQ CODES of their RESIDUAL
    * (vector minus its cell centroid) — the composition that makes
    * billion-vector search fit in memory: the coarse quantizer bounds
    * candidates, the residual codes bound bytes-per-candidate.
    *
    * Train/index: cell structure is the deterministic centroid sample
    * (exactly [[ivfTopK]]'s; cosine cell assignment, same narrow fold),
    * residuals are one `zip_with` projection pinned for the duration of
    * the Lloyd sweeps (each [[pqTrain]] iteration rescans its input —
    * at corpus scale that MUST be a materialization, not a recompute
    * through the assignment fold), codebooks train on residuals.
    *
    * Search: probe top-nprobe cells (narrow projection), form the
    * per-(query, cell) residual once — nprobe rows per query, NOT per
    * candidate — then ADC against the code table joined on the cell id:
    * the only corpus-sized input in the scored join is the narrow code
    * table, and the rank is the bounded two-phase [[bottomK]].
    *
    * Eager contract (the prefixFilterPairs posture): the top-k result
    * (|queries|·k rows) is pinned and any training materialization freed
    * before return — no session-lifetime blocks escape.
    */
  /** Per-vector cell residuals: (neighbor_id, list_id, rv = v − c(cell)).
    * One narrow fold + broadcast attach — no shuffle of the corpus.
    * Public surface so index-quality tooling (distortion reports, the
    * SimilaritySpec residual-fidelity pin) can measure the residual
    * distribution an IVF-PQ coder actually trains on.
    */
  def ivfResiduals(corpus: DataFrame, id: String, vec: String,
      centroids: DataFrame): DataFrame =
    corpus
      .select(col(id).as("neighbor_id"), toDouble(col(vec)).as("cv"))
      .crossJoin(centroidArray(centroids))
      .select(col("neighbor_id"), col("cv"),
        bestCellId(col("cv")).as("list_id"))
      .join(broadcast(centroids), Seq("list_id"))
      .select(col("neighbor_id"), col("list_id"),
        zip_with(col("cv"), col("cvec"), (a, b) => a - b).as("rv"))

  /** Train the residual codebooks alone — the index-build half of
    * [[ivfPqTopK]], split out so a long-lived session (or the query
    * layer's keyed memo) trains ONCE and scores many times against the
    * frozen model. The residual projection is pinned for the duration of
    * the Lloyd sweeps (each [[pqTrain]] iteration rescans its input — at
    * corpus scale that MUST be a materialization, not a recompute through
    * the assignment fold) and freed before return.
    */
  /** Coarse centroids for the IVF-PQ family: the deterministic sample by
    * default, or externally trained ones (e.g. [[kmeansTrain]]) — the
    * same refinement lever [[ivfTopK]]'s `trained` exposes, with genuine
    * (smaller-variance) residuals as the payoff for the PQ coder.
    */
  private def coarseCentroids(corpus: DataFrame, id: String, vec: String,
      nlist: Int, trained: Option[Seq[(Long, Seq[Double])]]): DataFrame =
    trained match {
      case Some(cs) =>
        val spark = corpus.sparkSession
        import spark.implicits._
        cs.toDF("list_id", "cvec")
      case None => firstNCentroids(corpus, id, vec, nlist)
    }

  def ivfPqModel(corpus: DataFrame, id: String, vec: String,
      nlist: Int, m: Int, dim: Int, kCodes: Int, iters: Int,
      trainedCoarse: Option[Seq[(Long, Seq[Double])]] = None): PqModel = {
    val res = graft.operators.Pinning.pin(
      ivfResiduals(corpus, id, vec,
        coarseCentroids(corpus, id, vec, nlist, trainedCoarse)))
    try pqTrain(res, "neighbor_id", "rv", m, dim, kCodes, iters)
    finally graft.operators.Pinning.unpin(res)
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      nlist: Int = 8, nprobe: Int = 3,
      m: Int = 2, dim: Int = 64, kCodes: Int = 8, iters: Int = 2,
      trainedPq: Option[PqModel] = None,
      trainedCoarse: Option[Seq[(Long, Seq[Double])]] = None,
      eager: Boolean = true): DataFrame = {
    val centroids = coarseCentroids(corpus, id, vec, nlist, trainedCoarse)
    val model = trainedPq.getOrElse(
      ivfPqModel(corpus, id, vec, nlist, m, dim, kCodes, iters,
        trainedCoarse))
    // encode scans the lazy residual chain exactly once — no pin needed
    val codes = pqEncode(ivfResiduals(corpus, id, vec, centroids),
      "neighbor_id", "rv", model, keep = Seq("list_id"))
    // per-(query, probed cell) residual: nprobe rows per query
    val qres = probeCells(queries, id, vec, centroids, nprobe)
      .join(broadcast(centroids), Seq("list_id"))
      .select(col("query_id"), col("list_id"),
        zip_with(col("qv"), col("cvec"), (a, b) => a - b).as("qr"))
    val adc = model.subs.zipWithIndex.map { case ((start, len, cents), j) =>
      val book = typedLit(cents.sortBy(_._1).map(_._2))
      graft.functions.Vectors.l2sq(
        slice(col("qr"), start, len),
        element_at(book, col(s"code_${j + 1}").cast("int")))
    }.reduce(_ + _)
    // broadcast the query side (|queries|·nprobe rows): the code table
    // is the corpus-sized side and must never shuffle for this join
    val scored = codes.join(broadcast(qres), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
    val ranked = explodeRanked(scored.groupBy(col("query_id"))
        .agg(bottomK(
          struct(col("adc"), col("neighbor_id")), k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        col("__t.adc").as("adc"), col("rank"))
    // eager=false exposes the lazy plan (PlanSpec's assertion surface —
    // a pinned result is a flat checkpoint scan)
    if (eager) graft.operators.Pinning.pin(ranked) else ranked
  }

  /** ADC top-k: scan the CODES (not the vectors), summing per-subspace
    * exact query-to-centroid distances. The query batch broadcasts; the
    * code table is the only corpus-sized input and it stays narrow until
    * the per-query rank.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, model: PqModel, k: Int): DataFrame = {
    val codes = pqEncode(corpus, id, vec, model)
    val q = queries.select(col(id).as("query_id"),
      toDouble(col(vec)).as("__qv"))
    val adc = model.subs.zipWithIndex.map { case ((start, len, cents), j) =>
      // centroid list_ids are 1..k (row_number seeds), so the literal
      // codebook indexes directly by code
      val book = typedLit(cents.sortBy(_._1).map(_._2))
      graft.functions.Vectors.l2sq(
        slice(col("__qv"), start, len),
        element_at(book, col(s"code_${j + 1}").cast("int")))
    }.reduce(_ + _)
    // two-phase top-k (see bottomK): the ADC code scan stays linear and
    // the rank never funnels the corpus into one task per query
    val scored = codes.join(broadcast(q), col("query_id") =!= col(id))
      .withColumn("adc", adc)
    explodeRanked(scored.groupBy(col("query_id"))
        .agg(bottomK(
          struct(col("adc"), col(id).as("neighbor_id")), k).as("__tk")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        col("__t.adc").as("adc"), col("rank"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected edge list — the community detector that pairs with
    * [[mutualKnnGraph]] for semantic-cluster curation (SemDeDup-style
    * cluster-then-prune): connectedComponents merges everything touching,
    * LPA splits dense regions joined by thin bridges.
    *
    * Determinism: synchronous rounds (all vertices update from the SAME
    * previous labeling), the new label is the most frequent neighbor
    * label with ties to the SMALLEST label, and the initial label is the
    * vertex id — a pure function of the edge list, so a fixed round count
    * replays on any engine (the classic async/random-order LPA is not).
    *
    * Scale: the symmetrized edge list pre-partitions on src ONCE before
    * its checkpoint (LogicalRDD preserves the partitioning, so no round
    * re-shuffles it); each round is then one ids-only equi join + ONE
    * aggregation shuffle — the neighbor labels collect per vertex
    * (degree-bounded arrays) and the most-frequent-min-tie argmax folds
    * over the sorted array in-row, no second (dst, label) shuffle.
    * Labels checkpoint per round so plan lineage stays flat. No vectors,
    * no windows.
    */
  /** Per-vertex triangle counts of an undirected graph given as an
    * ascending-oriented edge list (id1 < id2) — the clustering-coefficient
    * numerator. Wedge join fan-out is bounded by out-degree squared under
    * the orientation; all joins carry ids only.
    */
  def triangleCounts(edges: DataFrame, id1: String, id2: String): DataFrame = {
    val e = edges.select(col(id1).as("id1"), col(id2).as("id2"))
    val wedge = e.toDF("a", "b").join(e.toDF("b", "c"), "b")
    val tri = wedge.join(e.toDF("a", "c"), Seq("a", "c"), "left_semi")
    val per = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    e.select(explode(array(col("id1"), col("id2"))).as("id")).distinct()
      .join(per, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** The graph loops' crossover: the RAW (id1, id2) pairs within the
    * [[Crossover]] budget — each loop symmetrizes them like its own
    * distributed union — or None for the distributed route. */
  private def smallGraph(edges: DataFrame, id1: String, id2: String)
      : Option[Array[(Long, Long)]] =
    Crossover.take(edges.select(col(id1), col(id2)), Crossover.GraphPairs,
      id1, id2).map(_.map(r => (r.getLong(0), r.getLong(1))))

  /** Symmetrized local adjacency: dst → srcs (both directions of every
    * pair, multiplicity preserved) — the in-memory mirror of the loops'
    * `sym` frame. */
  private def localAdjacency(pl: Array[(Long, Long)])
      : scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[Long]] = {
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    def add(dst: Long, src: Long): Unit =
      adj.getOrElseUpdate(dst,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += src
    pl.foreach { case (a, b) => add(b, a); add(a, b) }
    adj
  }

  def labelPropagate(edges: DataFrame, id1: String, id2: String,
      rounds: Int): DataFrame = {
    val idType = edges.schema(id1).dataType
    val localOut = smallGraph(edges, id1, id2).map { pl =>
      val adj = localAdjacency(pl)
      // labels start as self; each round every node takes the MODE of its
      // neighbors' labels over the ascending-sorted multiset, strict >
      // keeping the first (smallest) label on count ties — the exact
      // fold modeOfSorted runs below
      var labels = scala.collection.mutable.LongMap.empty[Long]
      adj.keysIterator.foreach(n => labels(n) = n)
      var r = 0
      while (r < rounds) {
        val next = scala.collection.mutable.LongMap.empty[Long]
        adj.foreach { case (dst, srcs) =>
          val ls = srcs.map(labels).toArray
          java.util.Arrays.sort(ls)
          var cur = -1L; var curN = 0L; var best = -1L; var bestN = 0L
          var i = 0
          while (i < ls.length) {
            val x = ls(i)
            curN = if (cur == x) curN + 1L else 1L
            cur = x
            if (curN > bestN) { best = x; bestN = curN }
            i += 1
          }
          next(dst) = best
        }
        labels = next
        r += 1
      }
      val spark0 = edges.sparkSession
      import spark0.implicits._
      val out = labels.toSeq.sortBy(_._1)
      spark0.createDataset(out).toDF("id", "label")
        .select(col("id").cast(idType).as("id"),
          col("label").cast(idType).as("label"))
    }
    if (localOut.isDefined) return localOut.get
    val sym = graft.operators.Pinning.pin(
      edges.select(col(id1).as("src"), col(id2).as("dst"))
        .unionByName(edges.select(col(id2).as("src"), col(id1).as("dst")))
        .repartition(col("src")))
    // mode of an ASCENDING label array: single fold, strict > keeps the
    // first (smallest) label on count ties
    def modeOfSorted(ls: Column): Column = {
      val init = struct(lit(-1L).as("cur"), lit(0L).as("curN"),
        lit(-1L).as("best"), lit(0L).as("bestN"))
      aggregate(ls, init, (a, x) => {
        val curN = when(a.getField("cur") === x, a.getField("curN") + 1L)
          .otherwise(lit(1L))
        struct(x.as("cur"), curN.as("curN"),
          when(curN > a.getField("bestN"), x)
            .otherwise(a.getField("best")).as("best"),
          when(curN > a.getField("bestN"), curN)
            .otherwise(a.getField("bestN")).as("bestN"))
      }, a => a.getField("best"))
    }
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    var r = 0
    while (r < rounds) {
      val next = graft.operators.Pinning.pin(sym
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst"))
        .agg(sort_array(collect_list(col("label"))).as("__ls"))
        .select(col("dst").as("id"), modeOfSorted(col("__ls")).as("label")))
      if (r > 0) graft.operators.Pinning.unpin(labels) // superseded round
      labels = next
      r += 1
    }
    // the final labeling is pinned (rounds >= 1), so the edge pin has no
    // remaining consumer; at rounds == 0 the lazy labeling still reads it
    if (r > 0) graft.operators.Pinning.unpin(sym)
    labels
  }

  /** k-core structure via synchronous h-index iteration (Lü et al. 2016,
    * "The H-index of a network node"): h_0 = degree; h_{t+1}(v) = H-index
    * of { h_t(u) : u ∈ N(v) }. The sequence decreases monotonically to the
    * vertex CORENESS (the largest k whose k-core contains v) — the peel
    * depth that ranks hub documents vs fringe near-dups in a similarity
    * graph without any sequential peeling. A FIXED `rounds` is the defined
    * semantic (like [[labelPropagate]]) so the result is deterministic and
    * oracle-replayable at any SF; convergence speed is graph-dependent
    * (the caller picks a count with margin past the observed fixpoint —
    * sim_coreness uses 5 where sf0.01 converges at 4). CorenessSpec pins
    * converged-round = one-more-round = brute-force peel on fixtures, and
    * each distributed round against the in-memory recurrence.
    *
    * Each round is one ids-only equi join + one map-side-combinable
    * aggregation; the h-index itself is a single fold over the
    * descending-sorted neighbor array (degree-bounded, codegen'd) — no
    * windows, nothing but (id, long) pairs ever shuffles.
    *
    * Returns one row per vertex: (id, degree, coreness).
    */
  def corenessHIndex(edges: DataFrame, id1: String, id2: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"corenessHIndex needs rounds >= 1, got $rounds")
    // small-graph crossover (see smallGraph): degree + h-index rounds are
    // integer arithmetic over the bounded adjacency — bit-identical to
    // the distributed fold by construction (SimilaritySpec pins it)
    val localOut0 = smallGraph(edges, id1, id2).map { pl =>
      val adj = localAdjacency(pl)
      var vals = scala.collection.mutable.LongMap.empty[Long]
      adj.foreach { case (n, srcs) => vals(n) = srcs.length.toLong }
      val degL = vals.clone()
      var r = 0
      while (r < rounds) {
        val next = scala.collection.mutable.LongMap.empty[Long]
        adj.foreach { case (dst, srcs) =>
          val hs = srcs.map(vals).toArray
          java.util.Arrays.sort(hs)
          // descending h-index fold: h = max_i min(i, v_i), 1-based
          var h = 0L; var pos = 0L
          var i = hs.length - 1
          while (i >= 0) {
            pos += 1L
            val m = math.min(pos, hs(i))
            if (m > h) h = m
            i -= 1
          }
          next(dst) = h
        }
        vals = next
        r += 1
      }
      val spark0 = edges.sparkSession
      import spark0.implicits._
      val out = degL.toSeq.sortBy(_._1)
        .map { case (n, d) => (n, d, vals(n)) }
      val idType = edges.schema(id1).dataType
      spark0.createDataset(out).toDF("id", "degree", "coreness")
        .select(col("id").cast(idType).as("id"), col("degree"),
          col("coreness"))
    }
    if (localOut0.isDefined) return localOut0.get
    val sym = graft.operators.Pinning.pin(
      edges.select(col(id1).as("src"), col(id2).as("dst"))
        .unionByName(edges.select(col(id2).as("src"), col(id1).as("dst")))
        .repartition(col("dst")))
    // h-index of a DESCENDING value array: one fold carrying (position,
    // best); h = max_i min(i, v_i)
    def hIndexOfDesc(hs: Column): Column = {
      val init = struct(lit(0L).as("pos"), lit(0L).as("h"))
      aggregate(hs, init, (a, x) => {
        val pos = a.getField("pos") + 1L
        struct(pos.as("pos"),
          greatest(a.getField("h"), least(pos, x)).as("h"))
      }, a => a.getField("h"))
    }
    val deg = graft.operators.Pinning.pin(
      sym.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("degree")))
    var vals = deg.select(col("id"), col("degree").as("h"))
    var r = 0
    while (r < rounds) {
      val next = graft.operators.Pinning.pin(sym
        .join(vals.select(col("id").as("src"), col("h")), "src")
        .groupBy(col("dst"))
        .agg(sort_array(collect_list(col("h")), asc = false).as("__hs"))
        .select(col("dst").as("id"), hIndexOfDesc(col("__hs")).as("h")))
      if (r > 0) graft.operators.Pinning.unpin(vals) // superseded round
      vals = next
      r += 1
    }
    if (r > 0) graft.operators.Pinning.unpin(sym)
    // pin the final (id, degree, coreness) frame and release the loop's
    // working pins — the caller owns exactly ONE pin (the result), the
    // same contract as labelPropagate/pagerankInt (CacheLifecycleSpec)
    val out = graft.operators.Pinning.pin(
      deg.join(vals.select(col("id"), col("h").as("coreness")), "id")
        .select(col("id"), col("degree"), col("coreness")))
    graft.operators.Pinning.unpin(deg)
    if (r > 0) graft.operators.Pinning.unpin(vals)
    out
  }

  /** Deterministic integer PageRank over an undirected edge list — the
    * centrality complement to [[labelPropagate]] (communities) and the
    * triangle counts: rank the corpus graph's hubs, e.g. to pick
    * representative documents per semantic cluster.
    *
    * Float PageRank sums per-node contributions in partition order, so two
    * runs (or two engines) disagree in the last ulp — unacceptable under
    * the repo's bit-identical oracle discipline. This variant runs the
    * whole power iteration in SCALED INTEGER arithmetic: pr₀ = `scale`,
    * each round's contribution is `(pr·85) div (deg·100)` (integer floor
    * division — the 0.85 damping), and
    * `pr' = (scale·15 div 100) + Σ contributions`. Integer addition is
    * exact and commutative, so the result is independent of partitioning
    * and replays bit-identically as unrolled SQL CTEs in any engine. The
    * quantization error vs real-valued PageRank is < deg·rounds ulps of
    * 1/scale — irrelevant for ranking at scale = 10⁶.
    *
    * Scale shape per round: one broadcast-size join pr⋈deg (one row per
    * node), one ids-only equi-join shuffle edges⋈contrib on src, one
    * map-side-combinable sum keyed on dst. State between rounds is one
    * (id, pr) row per node, checkpointed to keep lineage flat. Every node
    * in an undirected graph has in-degree ≥ 1, so no dangling-mass term.
    */
  def pagerankInt(edges: DataFrame, id1: String, id2: String,
      rounds: Int, scale: Long = 1000000L): DataFrame = {
    // small-graph crossover (see smallGraph): the scaled-integer rounds
    // are exact commutative sums — order-free, so the local loop is
    // bit-identical to the distributed one (SimilaritySpec pins it)
    val localOut = smallGraph(edges, id1, id2).map { pl =>
      val adj = localAdjacency(pl)
      val base = scale * 15L / 100L
      var pr = scala.collection.mutable.LongMap.empty[Long]
      adj.keysIterator.foreach(n => pr(n) = scale)
      var r = 0
      while (r < rounds) {
        // contrib per node = (pr * 85) div (deg * 100); deg = |srcs|
        val contrib = scala.collection.mutable.LongMap.empty[Long]
        adj.foreach { case (n, srcs) =>
          contrib(n) = Math.floorDiv(pr(n) * 85L, srcs.length.toLong * 100L)
        }
        val next = scala.collection.mutable.LongMap.empty[Long]
        adj.foreach { case (dst, srcs) =>
          var s = 0L
          srcs.foreach(src => s += contrib(src))
          next(dst) = base + s
        }
        pr = next
        r += 1
      }
      val spark0 = edges.sparkSession
      import spark0.implicits._
      val idType = edges.schema(id1).dataType
      spark0.createDataset(pr.toSeq.sortBy(_._1)).toDF("id", "pr")
        .select(col("id").cast(idType).as("id"), col("pr"))
    }
    if (localOut.isDefined) return localOut.get
    val sym = graft.operators.Pinning.pin(
      edges.select(col(id1).as("src"), col(id2).as("dst"))
        .unionByName(edges.select(col(id2).as("src"), col(id1).as("dst")))
        .repartition(col("src")))
    val deg = graft.operators.Pinning.pin(
      sym.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val base = scale * 15L / 100L
    var pr = deg.select(col("src").as("id"), lit(scale).as("pr"))
    var r = 0
    while (r < rounds) {
      val contrib = deg
        .join(pr.withColumnRenamed("id", "src"), "src")
        .select(col("src"), expr("(pr * 85) div (deg * 100)").as("__c"))
      val next = graft.operators.Pinning.pin(sym.join(contrib, "src")
        .groupBy(col("dst"))
        .agg(sum(col("__c")).as("__s"))
        .select(col("dst").as("id"), (lit(base) + col("__s")).as("pr")))
      if (r > 0) graft.operators.Pinning.unpin(pr) // superseded round
      pr = next
      r += 1
    }
    // final ranks are pinned when any round ran — the graph pins have no
    // remaining consumer then; at rounds == 0 the lazy pr still reads deg
    if (r > 0) {
      graft.operators.Pinning.unpin(sym)
      graft.operators.Pinning.unpin(deg)
    }
    pr
  }
}
