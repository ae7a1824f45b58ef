package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Clustering / graph analytics (SURVEY §2.10 G2/G3/G4).
  *
  * The reference computes single-linkage classification groups by a
  * sequential merge loop (scripts/automation/cluster.pl:107-360) and BURST
  * clonal complexes by DFS over a shared-allele-count matrix
  * (lib/BIGSdb/Plugins/BURST.pm:238-608). Both reduce to connected
  * components over a threshold-similarity edge set; we fix the reference's
  * order-dependent merge naming to the deterministic rule "component id =
  * min member id" (SURVEY §7.4 hard-part 2).
  *
  * Scale: components run as iterative min-label propagation — each round is
  * one shuffle on the edge key, rounds = graph diameter in the worst case
  * but O(log n) for the short, fat clusters similarity graphs produce. Edges
  * come from the explode/equi-join similarity join (no O(n²) pair space).
  */
object Clustering {

  /** Driver-side path-compressing union-find with min-id roots: union
    * always points the larger root at the smaller, so `find` returns the
    * MINIMUM member id of a component — the same labeling rule as the
    * distributed min-label propagation, which is what lets the adaptive
    * local paths below substitute for it. Shared by the local fast paths
    * of connectedComponents / minimumSpanningForest / singleLinkageNewick
    * and Similarity.dbscan. An id never added is its own root.
    */
  private[graft] final class UnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    /** Returns true if the edge merged two components. */
    def union(a: Long, b: Long): Boolean = {
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) false
      else { if (ra < rb) parent(rb) = ra else parent(ra) = rb; true }
    }
    def add(n: Long): Unit = parent.getOrElseUpdate(n, n)
    def members: Iterator[Long] = parent.keysIterator
  }

  /** Minimum-label connected components over an undirected edge list.
    *
    * Input: edges(src, dst) — any integral type. Output: (node, component)
    * with component = min node id reachable. Isolated nodes of `nodes` (if
    * given) map to themselves.
    *
    * Label propagation: labels(n) = min(labels over neighbors ∪ self),
    * iterated to fixpoint. Each iteration: one join edges⋈labels + one
    * groupBy — both shuffle on the node key, so co-partitioning is reused
    * across rounds; the label frontier shrinks monotonically.
    *
    * Crossover: within [[Crossover.GraphEdges]] raw edges a driver
    * union-find wins (5M edges collect to ~80 MB and union in ~1 s —
    * several distributed label+jump rounds cost far more; measured 76.3 s
    * for the 84k-node 100x mutual-kNN graph on the distributed path, the
    * BENCH_SCALE sim_components_scaled row that validated that path).
    * The distributed loop stays the beyond-budget route and produces
    * identical labels (ClusteringSpec forces it with Crossover.distributed).
    */
  def connectedComponents(
      edges: DataFrame,
      nodes: Option[DataFrame] = None,
      maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    // Small-graph fast path: a driver-side union-find beats several
    // distributed rounds and labels identically (component id = min
    // member id). The edges are cast to the node type, so string ids
    // take the distributed path. r15 opt: it collects the RAW edge list —
    // union-find is direction- and duplicate-insensitive, so the local
    // path skips the symmetrize+distinct exchange, the pin job and the
    // endpoint-distinct pass (~0.7 s per call).
    val nodeType = nodes.map(_.schema("node").dataType)
      .getOrElse(edges.schema("src").dataType)
    // the explicit nodes ride in the same bounded take as self-loop
    // rows, which union-find only adds — no collect job of their own. One
    // extra partition keeps the take's rounds (1, then 4x the scanned
    // partitions) those of the edges alone.
    val typed = edges.select(col("src").cast(nodeType).as("src"),
      col("dst").cast(nodeType).as("dst"))
    Crossover.take(
        nodes.map(n => typed.unionByName(n.select(col("node").as("src"),
            col("node").as("dst")).coalesce(1)))
          .getOrElse(typed),
        Crossover.GraphEdges, "src", "dst") match {
      case None =>
      case Some(taken) =>
        val uf = new UnionFind
        taken.foreach { r =>
          val a = r.getLong(0); val b = r.getLong(1)
          uf.add(a); uf.add(b); uf.union(a, b)
        }
        // root = min member id: UnionFind unions by min root
        val out = uf.members.toSeq.sorted.map(n => (n, uf.find(n)))
        import spark.implicits._
        return spark.createDataset(out).toDF("node", "component")
          .select(col("node").cast(nodeType).as("node"),
            col("component").cast(nodeType).as("component"))
    }
    // pinned eagerly (Pinning strategy): every path below consumes the
    // symmetrized list at least twice, so it materializes exactly once
    // either way — the pin makes the cost deterministic and gives the
    // blocks an explicit free point (no session-lifetime CacheManager row)
    val sym = Pinning.pin(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // node universe = explicit nodes ∪ edge endpoints: an endpoint missing
    // from `nodes` must still contribute its own id as a candidate label,
    // else min-label propagation can't return it as the component minimum
    val endpointNodes = sym.select(col("src").as("node")).distinct()
    val allNodes = nodes
      .map(_.select(col("node")).unionByName(endpointNodes).distinct())
      .getOrElse(endpointNodes)
    // pin each round (Pinning strategy): truncates the compounding plan
    // lineage (without it the logical plan doubles per iteration and
    // planning OOMs)
    var labels = Pinning.pin(
      allNodes.select(col("node"), col("node").as("component")))
    // Convergence check without a join: labels only ever decrease, so
    // sum(component) strictly decreases iff any label changed this round
    // (decimal sum — immune to long overflow on large id spaces).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("component").cast("decimal(38,0)"))).collect()(0)
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // candidate label for each node: min over neighbor labels and own
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("component"))
      val propagated = labels.unionByName(viaNeighbors)
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"))
      // pointer jumping (label shortcut): component ids are themselves node
      // ids, so re-resolving each label through the label table halves the
      // remaining chain length — neighbor propagation alone needs
      // diameter rounds on a path graph, propagate+jump needs O(log n).
      val next = Pinning.pin(propagated
        .join(propagated.select(col("node").as("component"), col("component").as("__cc")),
          Seq("component"), "left")
        .select(col("node"), coalesce(col("__cc"), col("component")).as("component")))
      val curSum = labelSum(next)
      Pinning.unpin(labels) // superseded round
      labels = next
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      iter += 1
    }
    Pinning.unpin(sym)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
          "component ids would be incorrect; raise maxIter")
    labels
  }

  /** G3 — single-linkage classification groups (cluster.pl + seqdef.sql
    * matching_profiles): profiles within `threshold` mismatches are linked;
    * groups are the connected components. `wh` is a Profiles.warehouse
    * output; group id = min entity id in the component.
    */
  def singleLinkage(wh: DataFrame, entity: String, nLoci: Int, threshold: Int): DataFrame = {
    val edges = Profiles.similarityJoin(wh, entity, nLoci - threshold)
      .select(col("e1").as("src"), col("e2").as("dst"))
    val nodes = wh.select(col(entity).as("node"))
    connectedComponents(edges, Some(nodes))
      .withColumnRenamed("node", entity)
      .withColumnRenamed("component", "group_id")
  }

  /** G2 — BURST clonal complexes (BURST.pm:238-608): group profiles sharing
    * >= grpdef alleles (default nLoci - 2); within each group the founder is
    * the member with the most single-locus variants (SLVs = pairs sharing
    * exactly nLoci - 1), min id on ties.
    *
    * Output: (entity, group_id, slv_count, is_founder).
    */
  def burst(wh: DataFrame, entity: String, nLoci: Int, grpdef: Int): DataFrame = {
    // per-call pin (consumed by both the grouping edges and the SLV
    // degree count); GC-freed with the result — see Pinning
    val sim = Pinning.pin(Profiles.similarityJoin(wh, entity, 1))
    val edges = sim.filter(col("shared") >= grpdef)
      .select(col("e1").as("src"), col("e2").as("dst"))
    val groups = connectedComponents(edges, Some(wh.select(col(entity).as("node"))))
    // SLV degree per node (count both directions of each SLV pair)
    val slvPairs = sim.filter(col("shared") === nLoci - 1)
    val slvDeg = slvPairs.select(col("e1").as("node"))
      .unionByName(slvPairs.select(col("e2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("slv_count"))
    val withDeg = groups.join(slvDeg, Seq("node"), "left")
      .na.fill(0L, Seq("slv_count"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("slv_count").desc, col("node"))
    withDeg
      .withColumn("is_founder", row_number().over(w) === 1)
      .select(col("node").as(entity), col("component").as("group_id"),
        col("slv_count"), col("is_founder"))
  }

  /** G4 — LIN code assignment (scripts/maintenance/lincodes.pl:177-331).
    *
    * Inherently order-dependent and sequential (SURVEY §7.4 hard-part 1):
    * each profile, in assignment order, inherits the code prefix of its
    * nearest already-assigned profile down to the deepest threshold level
    * its %-identity clears, then takes the next free integer at the level
    * below. We fix the assignment order to ascending entity id and break
    * nearest ties by lowest id — deterministic re-runs.
    *
    * `thresholds` are ascending minimum %-identity per level (e.g.
    * Seq(50.0, 75.0, 90.0)); identity is computed over shared non-missing
    * loci (lincodes.pl:236-289).
    *
    * Assignment order is ascending id, so profile i's nearest-ASSIGNED
    * neighbour is its nearest among all LOWER ids — a quantity that
    * depends only on the profiles, not on the codes. Within the local
    * work gate ([[linFits]]) that nearest map computes on the driver
    * from the dictionary-coded O(n·L) matrix (bit-identical doubles and
    * tie rule, zero serialization); beyond it the O(n²·L) distance
    * work runs IN SPARK (a broadcast join of one id-batch
    * against the lower-id remainder, `batchSize` ids per job); the
    * inherently sequential part — threading code prefixes through the
    * assignment order (SURVEY §7.4 hard-part 1) — stays on the driver but
    * touches only (id, nearestId, pct) triples and the code vectors. The
    * driver never materializes a single profile, let alone the reference's
    * whole PDL matrix (lincodes.pl holds all profiles in RAM); peak driver
    * state is O(n) codes + one batch of triples. The 100 TB-side join
    * (isolate→ST) stays in Spark regardless.
    *
    * Input rows: (entity: Long-castable, profile: Seq[String]).
    * Output: (entity, lincode ARRAY<INT>).
    */
  def assignLinCodes(
      wh: DataFrame,
      entity: String,
      thresholds: Seq[Double],
      batchSize: Int = 4096): DataFrame = {
    val spark = wh.sparkSession
    import spark.implicits._
    val levels = thresholds.length
    val prof = wh.select(
      col(entity).cast("long").as("__id"), col("profile").as("__prof"))
    // ids only — 8 bytes per ST, the one full-dimension driver collect
    val ids = prof.select(col("__id")).as[Long].collect().sorted
    // LOCAL crossover (same gate as primOrder): within the n²·L work
    // gate the whole nearest-lower-id map computes on the driver from
    // the dictionary-coded matrix — identical doubles and tie rule
    // (strict > keeps the earliest pid under the ascending scan = the
    // max_by((pct, -pid)) rule), zero Spark jobs for the distance pass
    val localBest: Option[Map[Long, (Long, Double)]] =
      if (ids.length <= 1) None
      else {
        val l0 = prof.select(size(col("__prof")).as("l")).head().getInt(0)
        if (!linFits(ids.length, l0)) None
        else {
          val posOf = ids.zipWithIndex.toMap
          val lp = new LocalProfiles(
            prof.select(col("__id"), col("__prof"))
              .as[(Long, Seq[String])].collect(),
            posOf)
          // per-i computations are independent — chunk-parallel, each i
          // writing only its own slots
          val bq = new Array[Int](lp.n); val bp = new Array[Double](lp.n)
          parChunks(lp.n) { (lo, hi) =>
            var i = math.max(lo, 1)
            while (i < hi) {
              var q0 = 0; var p0 = lp.identity(0, i)
              var q = 1
              while (q < i) {
                val p = lp.identity(q, i)
                if (p > p0) { p0 = p; q0 = q }
                q += 1
              }
              bq(i) = q0; bp(i) = p0
              i += 1
            }
          }
          Some((1 until lp.n).map(i => ids(i) -> (ids(bq(i)), bp(i))).toMap)
        }
      }
    // %identity as a column expression. The counts are exact integers and
    // the final `100.0 * shared / comparable` is the same IEEE-754
    // operation order as identityPct (and the DuckDB replay oracle), so
    // best-by-pct ordering is bit-identical to the driver-side original.
    def pctCol(a: Column, b: Column): Column = {
      val miss = lit(AlleleIdS.Missing); val arb = lit(AlleleIdS.Arbitrary)
      val comp = size(filter(
        zip_with(a, b, (x, y) => x =!= miss && y =!= miss), x => x))
      val sh = size(filter(
        zip_with(a, b, (x, y) =>
          x =!= miss && y =!= miss && (x === y || x === arb || y === arb)),
        x => x))
      when(comp === lit(0), lit(0.0))
        .otherwise(lit(100.0) * sh / comp)
    }
    val codes = scala.collection.mutable.Map.empty[Long, Vector[Int]]
    // codes-at-level index for "next free integer": prefix (length d) →
    // integers used at position d among assigned codes sharing it — same
    // semantics as scanning the assigned list, O(1) per lookup
    val used = scala.collection.mutable.Map
      .empty[Vector[Int], scala.collection.mutable.Set[Int]]
    def record(code: Vector[Int]): Unit =
      for (d <- 0 until levels)
        used.getOrElseUpdate(code.take(d),
          scala.collection.mutable.Set.empty[Int]) += code(d)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[Int])]
    ids.grouped(math.max(batchSize, 1)).foreach { batch =>
      // nearest lower-id neighbour per batch member: the precomputed
      // local map within the work gate, else computed distributed —
      // candidates (everything below the batch max, including in-batch
      // lower ids) stream against the broadcast batch
      val hi = batch.last
      val best = localBest.getOrElse {
        val a = prof.filter(col("__id") >= batch.head && col("__id") <= hi)
        val b = prof.filter(col("__id") < hi)
        b.as("b")
          .join(broadcast(a.as("a")), col("b.__id") < col("a.__id"))
          .select(col("a.__id").as("id"), col("b.__id").as("pid"),
            pctCol(col("a.__prof"), col("b.__prof")).as("pct"))
          .groupBy(col("id"))
          // max pct, ties to lowest pid — the original maxBy((pct, -pid))
          .agg(max_by(struct(col("pid"), col("pct")),
            struct(col("pct"), -col("pid"))).as("b"))
          .select(col("id"), col("b.pid"), col("b.pct"))
          .as[(Long, Long, Double)].collect()
          .map { case (id, pid, pct) => id -> (pid, pct) }.toMap
      }
      batch.foreach { id =>
        val code: Vector[Int] =
          if (codes.isEmpty) Vector.fill(levels)(0) // globally first profile
          else {
            val (pid, pct) = best(id)
            val bestCode = codes(pid)
            // deepest level whose threshold the identity clears
            val depth = thresholds.lastIndexWhere(t => pct >= t) + 1 // 0 = none
            if (depth >= levels) bestCode // identical at the finest level
            else {
              val prefix = bestCode.take(depth)
              val u = used.getOrElse(prefix,
                scala.collection.mutable.Set.empty[Int])
              val nxt = Iterator.from(0).find(!u.contains(_)).get
              (prefix :+ nxt) ++ Vector.fill(levels - depth - 1)(0)
            }
          }
        codes(id) = code; record(code); out += ((id, code))
      }
    }
    spark.createDataset(out.toSeq).toDF(entity, "lincode")
  }

  /** %-identity over loci where neither side is missing ("0"); "N" matches
    * anything (lincodes.pl identity rule).
    */
  def identityPct(a: Seq[String], b: Seq[String]): Double = {
    var shared = 0; var comparable = 0; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      if (x != AlleleIdS.Missing && y != AlleleIdS.Missing) {
        comparable += 1
        if (x == y || x == AlleleIdS.Arbitrary || y == AlleleIdS.Arbitrary) shared += 1
      }
      i += 1
    }
    if (comparable == 0) 0.0 else 100.0 * shared / comparable
  }

  private object AlleleIdS {
    val Missing = graft.functions.AlleleId.Missing
    val Arbitrary = graft.functions.AlleleId.Arbitrary
  }

  /** The reference's BULK-assignment distance (lincodes.pl:480-485):
    * `100·diffs/(L − missingInEither)` where diffs counts loci that are
    * non-missing on both sides and differ. In this path "N" is converted
    * to MISSING before any comparison (lincodes.pl:186-187, 443-448) —
    * unlike [[identityPct]]'s wildcard rule; the two reference code paths
    * genuinely differ. Inputs here are already N→"0" projected.
    * All-missing pairs (denominator 0, a 0/0 in the reference) are defined
    * as distance 100 (no evidence of relatedness).
    */
  private def refDistCol(a: Column, b: Column): Column = {
    val miss = lit(AlleleIdS.Missing)
    val diffs = size(filter(zip_with(a, b,
      (x, y) => x =!= miss && y =!= miss && x =!= y), p => p))
    val missEither = size(filter(zip_with(a, b,
      (x, y) => x === miss || y === miss), p => p))
    val denom = size(a) - missEither
    when(denom === lit(0), lit(100.0))
      .otherwise(lit(100.0) * diffs / denom)
  }

  /** N→missing projection + max-missing gate shared by the bulk path:
    * profiles with more than `maxMissing` "N" loci are excluded BEFORE the
    * conversion (lincodes.pl:443-452), the rest have every "N" replaced by
    * the missing marker.
    */
  private def bulkProjection(
      wh: DataFrame, entity: String, maxMissing: Int): DataFrame =
    wh.filter(size(filter(col("profile"),
        x => x === lit(AlleleIdS.Arbitrary))) <= maxMissing)
      .select(col(entity).cast("long").as("__id"),
        transform(col("profile"), x =>
          when(x === lit(AlleleIdS.Arbitrary), lit(AlleleIdS.Missing))
            .otherwise(x)).as("__prof"))

  /** G4 bulk mode, step 1 — PRIM traversal order over the profile distance
    * matrix (lincodes.pl:371-421 get_prim_order): start from the globally
    * closest pair, then repeatedly append the unordered profile closest to
    * any ordered one. Assigning LIN codes in this order keeps related
    * profiles adjacent so code prefixes nest cleanly on an initial bulk
    * load.
    *
    * Tie-breaks replicate the reference's PDL scan order exactly:
    *   - initial pair: among minimum-distance pairs, lexicographically
    *     smallest (i, j) (flat minimum_ind scans the matrix first-dim
    *     fastest, so the first hit has the smallest row then column);
    *   - each step: earliest-ORDERED node wins ties (the `<` scan over
    *     index_order), then the smallest unordered index (minimum_ind on
    *     that node's column).
    *
    * Two execution paths, identical order bit-for-bit (shared
    * [[primSelect]] loop; ClusteringSpec pins equality):
    *  - LOCAL (default within the n²·L work gate): profiles dictionary-
    *    coded into an O(n·L) int matrix on the driver; each distance is
    *    recomputed on demand inside the traversal — the total compare
    *    work is the same O(n²·L) the fill paid, with zero serialization
    *    and NO O(n²) structure anywhere (the r11 triangle fill streamed
    *    433M triples for 2,171 s at 29k profiles; this path does the same
    *    traversal in under a minute).
    *  - TRIANGLE (fallback beyond the gate): distances in Spark (batched
    *    broadcast joins, same shape as [[assignLinCodes]]), collected as
    *    an n²/2 float32 triangle — heap while it fits, spilled to a
    *    memory-mapped temp file beyond `mmapThreshold` profiles (the
    *    reference's in-RAM → mmap'd dismat fallback); the explicit bound
    *    is the 2 TiB spill file.
    * Order: ascending id among retained profiles before traversal.
    */
  /** Random-access (i<j) float triangle: heap array for the common case,
    * spilled to a memory-mapped temp file above `mmapThreshold` profiles —
    * the SAME fallback the reference takes when its PDL dismat outgrows
    * RAM (lincodes.pl mmap posture). Identical traversal semantics either
    * way (ClusteringSpec pins heap == forced-mmap order); the mmap path
    * trades driver heap (n=200k would need 80 GiB) for a disk file the
    * OS pages. The default threshold (16384 → ≤ 512 MiB heap triangle)
    * keeps driver HEAP O(n) on modest cluster drivers: beyond it the
    * only O(n²) structure is the file, and resident pages are
    * OS-evictable cache, not JVM heap. ScaleProbeG4 measures both
    * assignment paths at growing profile counts.
    */
  private sealed trait TriStore {
    def get(idx: Long): Float
    def set(idx: Long, v: Float): Unit
    def close(): Unit
  }

  private final class HeapTri(pairs: Int) extends TriStore {
    private val a = new Array[Float](pairs)
    def get(idx: Long): Float = a(idx.toInt)
    def set(idx: Long, v: Float): Unit = a(idx.toInt) = v
    def close(): Unit = ()
  }

  private final class MmapTri(pairs: Long) extends TriStore {
    // 256 MiB chunks (multiple of 4 bytes) keep each mapping well under
    // the 2 GiB MappedByteBuffer limit
    private val ChunkBytes = 1L << 28
    private val file = java.io.File.createTempFile("graft-prim-tri", ".bin")
    file.deleteOnExit()
    private val raf = new java.io.RandomAccessFile(file, "rw")
    raf.setLength(pairs * 4L)
    private val chan = raf.getChannel
    private val chunks = Array.tabulate(
      ((pairs * 4L + ChunkBytes - 1) / ChunkBytes).toInt) { c =>
      val off = c.toLong * ChunkBytes
      chan.map(java.nio.channels.FileChannel.MapMode.READ_WRITE, off,
        math.min(ChunkBytes, pairs * 4L - off))
    }
    def get(idx: Long): Float = {
      val b = idx * 4L
      chunks((b / ChunkBytes).toInt).getFloat((b % ChunkBytes).toInt)
    }
    def set(idx: Long, v: Float): Unit = {
      val b = idx * 4L
      chunks((b / ChunkBytes).toInt).putFloat((b % ChunkBytes).toInt, v)
    }
    def close(): Unit = { chan.close(); raf.close(); file.delete() }
  }

  def primOrder(
      wh: DataFrame,
      entity: String,
      maxMissing: Int = Int.MaxValue,
      batchSize: Int = 4096,
      mmapThreshold: Int = 16384): Seq[Long] = {
    val spark = wh.sparkSession
    import spark.implicits._
    val base = bulkProjection(wh, entity, maxMissing)
    val ids = base.select(col("__id")).as[Long].collect().sorted
    val n = ids.length
    if (n <= 1) return ids.toSeq
    // LOCAL path (the default for every realistic bulk load, r11 VERDICT
    // #2): a dictionary-coded profile matrix is O(n·L) ints on the driver
    // — 29k×7-loci = under a megabyte where the materialized triangle is
    // 1.7 GB — and recomputing a distance on the fly inside the traversal
    // loops costs the same O(n²·L) compares the fill paid anyway, minus
    // every serialization: the 29k-profile probe drops from 2,171 s
    // (triangle fill via 433M streamed triples) to under a minute. Gated
    // on total compare work (n²·L) and matrix size so the distributed
    // fill remains the beyond-gate route.
    val L = base.select(size(col("__prof")).as("l")).head().getInt(0)
    if (linFits(n, L))
      return primOrderLocal(base, ids)
    val pairs = n.toLong * (n - 1) / 2
    // FALLBACK beyond the local-work gate: distances in Spark (batched
    // broadcast joins), materialized as the n²/2 float triangle — heap
    // while it fits, mmap'd spill file beyond mmapThreshold; no hard
    // profile ceiling; the disk bound (pairs × 4 B) is the honest limit
    // and fails with a clear message
    require(pairs * 4L <= (2L << 40),
      s"primOrder: $n profiles need a ${pairs * 4L >> 30} GiB triangle " +
        "spill — use incremental assignLinCodes (ascending-id order)")
    val tri: TriStore =
      if (n <= mmapThreshold) new HeapTri(pairs.toInt) else new MmapTri(pairs)
    try primTraverse(ids, n, tri, base, batchSize, spark)
    finally tri.close()
  }

  /** Dictionary-coded profile matrix for the driver-local crossover
    * paths: equal strings ↔ equal codes, so compare semantics are exact,
    * and both reference distance kernels reproduce the Column forms'
    * IEEE-754 arithmetic bit-for-bit (`100.0·x/y` in double, same op
    * order as [[refDistCol]] / the pctCol expression). O(n·L) ints —
    * never any O(n²) structure.
    */
  private final class LocalProfiles(
      rows: Array[(Long, Seq[String])], posOf: Long => Int) {
    val n: Int = rows.length
    val L: Int = if (n == 0) 0 else rows(0)._2.length
    private val dict = new java.util.HashMap[String, Integer]()
    private def code(s: String): Int = {
      val c = dict.get(s)
      if (c != null) c.intValue
      else { val nc = dict.size; dict.put(s, Integer.valueOf(nc)); nc }
    }
    private val missCode = code(AlleleIdS.Missing)
    private val arbCode = code(AlleleIdS.Arbitrary)
    val mat = new Array[Int](n * L)
    rows.foreach { case (id, prof) =>
      var o = posOf(id) * L
      val it = prof.iterator
      while (it.hasNext) { mat(o) = code(it.next()); o += 1 }
    }
    /** Bulk distance ([[refDistCol]]; inputs already N→missing
      * projected): 100·diffs/(L − missEither), 100.0 when denom 0. */
    def refDist(i: Int, j: Int): Double = {
      var diffs = 0; var missEither = 0
      var a = i * L; var b = j * L; val end = a + L
      while (a < end) {
        val x = mat(a); val y = mat(b)
        if (x == missCode || y == missCode) missEither += 1
        else if (x != y) diffs += 1
        a += 1; b += 1
      }
      val denom = L - missEither
      if (denom == 0) 100.0 else 100.0 * diffs / denom
    }
    /** Wildcard %identity ([[identityPct]] / the incremental path's
      * pctCol): N matches anything, 0.0 when nothing comparable. */
    def identity(i: Int, j: Int): Double = {
      var shared = 0; var comparable = 0
      var a = i * L; var b = j * L; val end = a + L
      while (a < end) {
        val x = mat(a); val y = mat(b)
        if (x != missCode && y != missCode) {
          comparable += 1
          if (x == y || x == arbCode || y == arbCode) shared += 1
        }
        a += 1; b += 1
      }
      if (comparable == 0) 0.0 else 100.0 * shared / comparable
    }
  }

  /** Chunked driver-side parallelism for the local crossovers' big
    * independent scans (per-item nearest maps, the PRIM global-min
    * scan): `body(lo, hi)` ranges never overlap, so writes to disjoint
    * slots race-free and any reduction merges DETERMINISTICALLY in the
    * caller (total-order min). Small inputs stay single-threaded.
    */
  private def parChunks(n: Int)(body: (Int, Int) => Unit): Unit = {
    val threads = math.max(1,
      math.min(Runtime.getRuntime.availableProcessors, 16))
    if (n < 4096 || threads == 1) { body(0, n); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val chunk = (n + threads - 1) / threads
      (0 until threads).map { t =>
        val lo = t * chunk; val hi = math.min(n, lo + chunk)
        pool.submit(new Runnable {
          def run(): Unit = if (lo < hi) body(lo, hi)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** The LIN / PRIM cost formula: n²·L distance compares and the O(n·L)
    * matrix, each within its [[Crossover]] budget. Within both the whole
    * distance workload fits one driver comfortably, so recomputing
    * distances locally beats ANY distributed plan's serialization floor;
    * beyond them the batched-broadcast Spark paths remain the scale route.
    */
  private def linFits(n: Long, l: Long): Boolean =
    Crossover.fits(n * n * l, Crossover.LinWork) &&
      Crossover.fits(n * l, Crossover.LinMatrix)

  /** Driver-local PRIM: [[LocalProfiles]] + [[primSelect]] recomputing
    * each distance on demand — identical float arithmetic to
    * [[refDistCol]]`.cast("float")`, so the order is bit-identical to the
    * triangle path (ClusteringSpec pins local == spark-fill).
    */
  private def primOrderLocal(base: DataFrame, ids: Array[Long]): Seq[Long] = {
    val spark = base.sparkSession
    import spark.implicits._
    val posOf = ids.zipWithIndex.toMap
    val lp = new LocalProfiles(
      base.select(col("__id"), col("__prof"))
        .as[(Long, Seq[String])].collect(),
      posOf)
    primSelect(lp.n, (i, j) => lp.refDist(i, j).toFloat).map(ids(_))
  }

  private def primTraverse(
      ids: Array[Long], n: Int, tri: TriStore, base: DataFrame,
      batchSize: Int,
      spark: org.apache.spark.sql.SparkSession): Seq[Long] = {
    import spark.implicits._
    val posDf = ids.zipWithIndex.toSeq.toDF("__id", "__pos")
    val prof = base.join(broadcast(posDf), Seq("__id"))
      .select(col("__pos"), col("__prof"))
    (0 until n).grouped(math.max(batchSize, 1)).foreach { batch =>
      val hi = batch.last
      val a = prof.filter(col("__pos") >= batch.head && col("__pos") <= hi)
      val b = prof.filter(col("__pos") < hi)
      // toLocalIterator, not collect: a batch against a wide assigned
      // prefix is up to batchSize·n triples — streamed one partition at
      // a time into the triangle, transient driver memory stays
      // O(partition), and the only O(n²) residence is the TriStore
      // (heap ≤ 512 MiB, mmap'd file beyond)
      val it = b.as("b")
        .join(broadcast(a.as("a")), col("b.__pos") < col("a.__pos"))
        .select(col("b.__pos").as("i"), col("a.__pos").as("j"),
          refDistCol(col("a.__prof"), col("b.__prof")).cast("float").as("d"))
        .as[(Int, Int, Float)].toLocalIterator()
      while (it.hasNext) {
        val (i, j, d) = it.next()
        tri.set(j.toLong * (j - 1) / 2 + i, d)
      }
    }
    def dist(i: Int, j: Int): Float =
      if (i < j) tri.get(j.toLong * (j - 1) / 2 + i)
      else tri.get(i.toLong * (i - 1) / 2 + j)
    primSelect(n, dist).map(ids(_))
  }

  /** The PRIM selection loop, shared bit-for-bit by the local
    * ([[primOrderLocal]]) and triangle ([[primTraverse]]) paths —
    * parameterized only by the distance oracle, so the two paths cannot
    * drift. Returns order POSITIONS (indices into the ascending-id list).
    */
  private def primSelect(n: Int, dist: (Int, Int) => Float): Seq[Int] = {
    // initial pair: global min, ties to lexicographically smallest (i, j).
    // Chunk-parallel over i (reads only — both TriStore impls and the
    // local matrix are read-safe across threads), merged by the SAME
    // (d, i, j) total order the serial scan's strict-< encodes, so the
    // result is bit-identical at any thread count.
    val ci = new Array[Int](n); val cj = new Array[Int](n)
    val cd = new Array[Float](n)
    parChunks(n) { (lo, hi) =>
      var i = lo
      while (i < hi) {
        var bj0 = -1; var bd0 = Float.MaxValue
        var j = i + 1
        while (j < n) {
          val d = dist(i, j); if (d < bd0) { bd0 = d; bj0 = j }; j += 1
        }
        ci(i) = i; cj(i) = bj0; cd(i) = bd0
        i += 1
      }
    }
    var bi = 0; var bj = 1; var bd = Float.MaxValue
    var i = 0
    while (i < n) {
      if (cj(i) >= 0 && cd(i) < bd) { bd = cd(i); bi = i; bj = cj(i) }
      i += 1
    }
    val ordered = scala.collection.mutable.ArrayBuffer(bi, bj)
    val inOrder = new Array[Boolean](n); inOrder(bi) = true; inOrder(bj) = true
    // dmin(u) = distance to the nearest ordered node; pmin(u) = the
    // EARLIEST order position achieving it (strict-< updates keep it).
    // Plain while loops throughout: this and the selection sweep below
    // run n times over n entries — Range closures here cost more than
    // the distance arithmetic itself on the local path.
    val dmin = new Array[Float](n); val pmin = new Array[Int](n)
    var u0 = 0
    while (u0 < n) {
      if (!inOrder(u0)) {
        val d0 = dist(bi, u0); val d1 = dist(bj, u0)
        if (d0 <= d1) { dmin(u0) = d0; pmin(u0) = 0 }
        else { dmin(u0) = d1; pmin(u0) = 1 }
      }
      u0 += 1
    }
    while (ordered.size < n) {
      // next = min by (distance, earliest ordered position, index) — the
      // reference's v_min-then-minimum_ind selection, flattened
      var k = -1
      var u = 0
      while (u < n) {
        if (!inOrder(u) && (k < 0 || dmin(u) < dmin(k) ||
            (dmin(u) == dmin(k) && (pmin(u) < pmin(k) ||
              (pmin(u) == pmin(k) && u < k))))) k = u
        u += 1
      }
      inOrder(k) = true
      val kPos = ordered.size
      ordered += k
      var w = 0
      while (w < n) {
        if (!inOrder(w)) {
          val d = dist(k, w)
          if (d < dmin(w)) { dmin(w) = d; pmin(w) = kPos }
        }
        w += 1
      }
    }
    ordered.toSeq
  }

  /** G4 bulk mode, step 2 — LIN assignment over the PRIM order
    * (lincodes.pl:177-331 with get_prim_order input): each profile, in
    * traversal order, takes the code of its closest already-assigned
    * profile down to the deepest cleared threshold and max+1 at the level
    * below (increment_lincode — values under a prefix are contiguous from
    * 0, so max+1 ≡ next-free). Nearest uses the bulk distance
    * ([[refDistCol]]: N is missing, not wildcard) with ties to the
    * EARLIEST-assigned profile (the reference's strict-< scan over
    * definitions in assignment order). A profile clearing every threshold
    * inherits the closest code outright — the reference reaches the same
    * result through its diffs==0 early return, its finest threshold being
    * 100% identity.
    *
    * Same execution split as [[assignLinCodes]]: nearest-assigned is pure
    * profile data (assigned ⊆ earlier order positions), so within the
    * local work gate the whole nearest map computes on the driver from
    * the dictionary-coded matrix, and beyond it the O(n²·L) distance
    * work runs in Spark per batch; the driver threads only code
    * vectors. `thresholds` ascending minimum %-identity per level.
    */
  def assignLinCodesBulk(
      wh: DataFrame,
      entity: String,
      thresholds: Seq[Double],
      maxMissing: Int = Int.MaxValue,
      batchSize: Int = 4096): DataFrame = {
    val spark = wh.sparkSession
    import spark.implicits._
    val levels = thresholds.length
    val order = primOrder(wh, entity, maxMissing, batchSize)
    val n = order.length
    val posDf = order.zipWithIndex.toSeq.toDF("__id", "__pos")
    val prof = bulkProjection(wh, entity, maxMissing)
      .join(broadcast(posDf), Seq("__id"))
      .select(col("__pos"), col("__prof"))
    // LOCAL crossover for the nearest-assigned map (same gate as
    // primOrder): min by (refDist, position) — the ascending-q scan with
    // strict < keeps the earliest-assigned position, the min(struct(d,q))
    // tie rule exactly; doubles identical (same op order as refDistCol)
    val localNearest: Option[Map[Int, (Int, Double)]] =
      if (n <= 1) None
      else {
        val l0 = prof.select(size(col("__prof")).as("l")).head().getInt(0)
        if (!linFits(n, l0)) None
        else {
          val posOfId = order.zipWithIndex.toMap
          val lp = new LocalProfiles(
            bulkProjection(wh, entity, maxMissing)
              .select(col("__id"), col("__prof"))
              .as[(Long, Seq[String])].collect(),
            posOfId)
          // per-p computations independent — chunk-parallel (disjoint
          // slots), the ascending-q strict-< scan preserved per p
          val nq = new Array[Int](n); val nd = new Array[Double](n)
          parChunks(n) { (lo, hi) =>
            var p = math.max(lo, 1)
            while (p < hi) {
              var q0 = 0; var d0 = lp.refDist(0, p)
              var q = 1
              while (q < p) {
                val d = lp.refDist(q, p)
                if (d < d0) { d0 = d; q0 = q }
                q += 1
              }
              nq(p) = q0; nd(p) = d0
              p += 1
            }
          }
          Some((1 until n).map(p => p -> (nq(p), nd(p))).toMap)
        }
      }
    val codes = scala.collection.mutable.ArrayBuffer.empty[Vector[Int]]
    // prefix → max value seen at position |prefix| (increment_lincode
    // scans assigned codes for the max; an index keeps it O(1))
    val maxAt = scala.collection.mutable.Map.empty[Vector[Int], Int]
    def record(code: Vector[Int]): Unit =
      for (d <- 0 until levels) {
        val p = code.take(d)
        maxAt(p) = math.max(maxAt.getOrElse(p, 0), code(d))
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[Int])]
    (0 until n).grouped(math.max(batchSize, 1)).foreach { batch =>
      val hi = batch.last
      val nearest = localNearest.getOrElse {
        val a = prof.filter(col("__pos") >= batch.head && col("__pos") <= hi)
        val b = prof.filter(col("__pos") < hi)
        b.as("b")
          .join(broadcast(a.as("a")), col("b.__pos") < col("a.__pos"))
          .select(col("a.__pos").as("p"), col("b.__pos").as("q"),
            refDistCol(col("a.__prof"), col("b.__prof")).as("d"))
          .groupBy(col("p"))
          // min distance, ties to earliest-assigned (smallest position)
          .agg(min(struct(col("d"), col("q"))).as("m"))
          .select(col("p"), col("m.q"), col("m.d"))
          .as[(Int, Int, Double)].collect()
          .map { case (p, q, d) => p -> (q, d) }.toMap
      }
      batch.foreach { p =>
        val code: Vector[Int] =
          if (p == 0) Vector.fill(levels)(0)
          else {
            val (q, d) = nearest(p)
            val closest = codes(q)
            val identity = 100.0 - d
            // thresholds cleared in order, stop at first failure — the
            // reference's threshold_index loop
            val depth = thresholds.takeWhile(t => identity >= t).length
            if (depth >= levels) closest
            else {
              val prefix = closest.take(depth)
              val nxt = maxAt.getOrElse(prefix, 0) + 1
              (prefix :+ nxt) ++ Vector.fill(levels - depth - 1)(0)
            }
          }
        codes += code; record(code); out += ((order(p), code))
      }
    }
    spark.createDataset(out.toSeq).toDF(entity, "lincode")
  }

  /** G5 — minimum spanning forest over a weighted edge list (Borůvka), the
    * graph layer under the reference's tree exports: GrapeTree/ITOL/
    * PhyloViz hand a profile distance matrix to an external MST/tree tool
    * (lib/BIGSdb/Plugins/GrapeTree.pm, ITOL.pm, GenomeComparator.pm:
    * 1407-1444); here the MST itself is computed in-engine.
    *
    * Determinism: edges are totally ordered by (weight, src, dst) — since
    * (src, dst) pairs are unique this makes all weights strictly distinct,
    * so the MSF is UNIQUE and algorithm-independent: Borůvka here and a
    * one-edge-at-a-time Kruskal in the DuckDB oracle produce the same tree.
    *
    * Scale: Borůvka runs O(log n) rounds; each round every component
    * selects its minimum outgoing edge with a single map-side-combinable
    * groupBy (`min(struct(weight, src, dst))` — no sort, no window), and
    * components merge via connected-components over the CHOSEN edges only —
    * a graph whose size at least halves every round. No driver-side loop
    * over the edge set; the full edge list is never collected.
    *
    * Input: edges(src, dst, weight) — integral node ids, numeric weight.
    * Output: (src, dst, weight) rows of the forest, src < dst.
    */
  def minimumSpanningForest(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // normalize to src < dst and collapse parallel edges to their min weight
    val e0 = Pinning.pin(edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("weight"))
      .groupBy(col("src"), col("dst")).agg(min(col("weight")).as("weight")))
    // Small-graph fast path (same adaptive posture as connectedComponents):
    // the profile-similarity graph is DIMENSION-sized (#ST pairs within
    // threshold), so within the edge budget a driver Kruskal beats ~log n
    // distributed rounds of fixed job costs. Identical output: the
    // (weight, src, dst) total order makes the MSF unique, so Kruskal here
    // and Borůvka below return the same edges.
    Crossover.take(e0.select(col("src"), col("dst"),
        col("weight").cast("double").as("weight")),
        Crossover.GraphEdges, "src", "dst") match {
      case None =>
      case Some(taken) =>
        val spark = e0.sparkSession
        import spark.implicits._
        val es = taken.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        val uf = new UnionFind
        val chosen = Seq.newBuilder[(Long, Long)]
        for ((s, d, _) <- es.sortBy { case (s, d, w) => (w, s, d) })
          if (uf.union(s, d)) chosen += ((s, d))
        // semi join back against e0: output keeps the caller's weight type
        return e0.join(
          broadcast(chosen.result().toDF("src", "dst")), Seq("src", "dst"),
          "left_semi")
    }
    var comp = Pinning.pin(e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node")))
      .distinct().withColumn("comp", col("node")))
    var acc: Option[DataFrame] = None
    var it = 0
    var done = e0.isEmpty
    while (!done && it < maxIter) {
      val labeled = e0
        .join(comp.select(col("node").as("src"), col("comp").as("csrc")), Seq("src"))
        .join(comp.select(col("node").as("dst"), col("comp").as("cdst")), Seq("dst"))
        .filter(col("csrc") =!= col("cdst"))
      // each endpoint component nominates the edge; min(struct) = the
      // component's cheapest outgoing edge under the total order
      val edgeStruct = struct(col("weight"), col("src"), col("dst"),
        col("csrc"), col("cdst"))
      val chosen = Pinning.pin( // truncate lineage: plans double per round otherwise
        labeled.select(col("csrc").as("mcomp"), edgeStruct.as("e"))
          .unionByName(labeled.select(col("cdst").as("mcomp"), edgeStruct.as("e")))
          .groupBy(col("mcomp")).agg(min(col("e")).as("e"))
          .select(col("e.weight").as("weight"), col("e.src").as("src"),
            col("e.dst").as("dst"), col("e.csrc").as("csrc"),
            col("e.cdst").as("cdst"))
          .dropDuplicates("src", "dst"))
      if (chosen.isEmpty) done = true
      else {
        val picked = chosen.select(col("src"), col("dst"), col("weight"))
        val accNext = Pinning.pin(
          acc.map(_.unionByName(picked)).getOrElse(picked))
        acc.foreach(Pinning.unpin) // superseded accumulator
        acc = Some(accNext)
        // merge on the component graph (|chosen| nodes, halves each round)
        val merge = connectedComponents(
          chosen.select(col("csrc").as("src"), col("cdst").as("dst")))
          .select(col("node").as("comp"), col("component").as("newComp"))
        val compNext = Pinning.pin(comp.join(merge, Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("newComp"), col("comp")).as("comp")))
        Pinning.unpin(comp) // superseded labeling
        Pinning.unpin(merge) // folded into compNext (no-op on the local path)
        comp = compNext
      }
      // acc and comp are pinned past it — this round's nominations are dead
      Pinning.unpin(chosen)
      it += 1
    }
    Pinning.unpin(comp) // the forest is in acc; the final labeling is not returned
    // same posture as connectedComponents: never return a silently-partial
    // forest — Borůvka halves components per round, so 30 rounds cover any
    // graph with < 2^30 components; hitting the cap means something is wrong
    if (!done)
      throw new IllegalStateException(
        s"minimumSpanningForest did not converge in $maxIter Borůvka rounds")
    // with a non-empty forest the edge pin has no remaining consumer (the
    // empty case returns a limit(0) OVER e0, which must stay pinned)
    if (acc.nonEmpty) Pinning.unpin(e0)
    acc.getOrElse(e0.limit(0))
      .select(col("src"), col("dst"), col("weight"))
  }

  /** G5 — single-linkage dendrogram serialized as canonical Newick, the
    * tree the reference ships to ITOL/SplitsTree after external clustering
    * (lib/BIGSdb/Plugins/ITOL.pm, GenomeComparator.pm:1407-1444).
    *
    * Semantics: at every distinct edge weight t (ascending), clusters whose
    * members become connected by edges of weight <= t merge into one
    * internal node; a child's branch length is t minus the level at which
    * the child cluster itself formed (leaves form at 0) — the ultrametric
    * single-linkage heights. Canonical form: children ordered by min leaf
    * id, so the string is unique and oracle-checkable.
    *
    * Scale: the per-level memberships run as distributed connected
    * components over the (huge) edge set; only the (node → component) map —
    * the profile DIMENSION, same size argument as assignLinCodes — is
    * collected per level for string assembly. Output: one (root, newick)
    * row per final component; nodes never linked stay singleton trees.
    */
  def singleLinkageNewick(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // integral distances only: the dendrogram levels ARE the distinct
    // weights, so a silent int cast would truncate fractional distances
    // into wrong merge levels — reject instead
    val nonIntegral = edges
      .filter(col("weight").cast("double") =!= col("weight").cast("int").cast("double"))
      .limit(1).count()
    require(nonIntegral == 0L,
      "singleLinkageNewick requires integral edge weights (allelic " +
        "mismatch counts); fractional distances would truncate to wrong levels")
    // materialize once: the per-level filters below would otherwise
    // recompute the upstream similarity join per distinct weight
    val e0 = Pinning.pin(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("weight").cast("int").as("weight")))
    val levels = e0.select(col("weight")).distinct().as[Int].collect().sorted
    val ids = nodes.select(col("node").cast("long")).as[Long].collect().sorted
    final case class Cl(repr: Long, formed: Int, str: String)
    var clusters: Seq[Cl] = ids.map(id => Cl(id, 0, id.toString)).toSeq
    // Adaptive per-level memberships, same posture as connectedComponents /
    // minimumSpanningForest: within the edge budget, one collect +
    // incremental union-find across ascending levels (edges sorted by
    // weight, each added exactly once) replaces |levels| distributed
    // component rounds.
    val compAtLevel: Int => Map[Long, Long] =
      Crossover.take(e0, Crossover.NewickEdges, "src", "dst") match {
        case Some(taken) =>
          val es = taken.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
            .sortBy(_._3)
          val uf = new UnionFind
          var i = 0
          (t: Int) => {
            while (i < es.length && es(i)._3 <= t) {
              uf.union(es(i)._1, es(i)._2)
              i += 1
            }
            // min-id labeling: UnionFind roots are component minima
            ids.map(id => id -> uf.find(id)).toMap
          }
        case None => (t: Int) =>
          connectedComponents(
            e0.filter(col("weight") <= t).select(col("src"), col("dst")),
            Some(nodes.select(col("node"))))
            .as[(Long, Long)].collect().toMap
      }
    for (t <- levels) {
      val comp = compAtLevel(t)
      clusters = clusters.groupBy(c => comp(c.repr)).toSeq.sortBy(_._1)
        .map { case (g, members) =>
          if (members.size == 1) members.head
          else Cl(g, t, members.sortBy(_.repr)
            .map(m => s"${m.str}:${t - m.formed}").mkString("(", ",", ")"))
        }
    }
    // the dendrogram is now driver-side strings — nothing pinned survives
    Pinning.unpin(e0)
    clusters.map(c => (c.repr, c.str + ";")).toDF("root", "newick")
  }
}
