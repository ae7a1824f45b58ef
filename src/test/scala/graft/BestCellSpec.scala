package graft

import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** The fused nearest-centroid kernel (Vectors.bestCellKernel) must pick
  * the SAME cell as the HOF fold it replaced, on every vector — including
  * exact cosine ties (strict >: lowest list_id wins) and zero-norm
  * vectors (cosine defined 0.0). The fold stays in Similarity as the
  * executable spec this suite diffs against.
  */
class BestCellSpec extends SparkSpec {
  import spark.implicits._

  test("fused kernel == HOF fold on every vector, ties and zeros included") {
    val rnd = new scala.util.Random(5)
    // 300 vectors: random, plus exact DUPLICATES of centroid vectors
    // (cosine 1.0 against their source centroid and any colinear one) and
    // zero vectors (cosine 0.0 against everything — full tie across cells)
    val base = (0 until 300).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextInt(200) / 100.0 - 1.0)))
    val dups = (300 until 320).map(i => (i.toLong, base(i % 8)._2))
    val zeros = (320 until 330).map(i => (i.toLong, Seq.fill(6)(0.0)))
    val vecs = (base ++ dups ++ zeros).toDF("vec_id", "embedding")
    val cents = Similarity.firstNCentroids(vecs, "vec_id", "embedding", 8)
    val both = vecs
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .crossJoin(Similarity.centroidArray(cents))
      .select(col("vec_id"),
        Similarity.bestCellId(col("v")).as("fused"),
        Similarity.foldBestCell(col("v")).getField("list_id").as("folded"))
      .collect()
    assert(both.length === 330)
    both.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"vec ${r.getLong(0)}")
    }
  }

  test("fused topCells kernel == HOF probe pick on every vector and " +
      "every nprobe, ties and zeros included") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 300).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextInt(200) / 100.0 - 1.0)))
    // duplicates of centroids (cosine-1.0 ties against colinear cells)
    // and zero vectors (0.0 across ALL cells — the full-tie case where
    // the list_id ASC rule decides the whole probe list)
    val dups = (300 until 320).map(i => (i.toLong, base(i % 8)._2))
    val zeros = (320 until 330).map(i => (i.toLong, Seq.fill(6)(0.0)))
    val vecs = (base ++ dups ++ zeros).toDF("vec_id", "embedding")
    val cents = Similarity.firstNCentroids(vecs, "vec_id", "embedding", 8)
    for (nprobe <- Seq(1, 3, 8, 12)) {
      val kernel = Similarity.probeCells(vecs, "vec_id", "embedding",
          cents, nprobe)
        .select("query_id", "list_id")
        .as[(Long, Long)].collect().toSeq.sorted
      val hof = graft.pipeline.SimilarityReference.probeCellsHof(vecs, "vec_id", "embedding",
          cents, nprobe)
        .select("query_id", "list_id")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(kernel == hof, s"probe pick must match the HOF spec " +
        s"(nprobe=$nprobe)")
    }
  }
}
