package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import Similarity.{centroidArray, cosine, probeCells, toDouble}

/** Reference ("executable spec") forms of the fused IVF kernels: the
  * plain-Column shapes the kernels replaced, kept only so specs can diff
  * the kernels against them.
  */
object SimilarityReference {

  /** The HOF probe pick [[Similarity.probeCells]] replaced — score all
    * centroids per row with a per-element lambda, array_sort the
    * (negCd, list_id) structs, slice. The ORDERING SPEC: BestCellSpec
    * pins kernel ≡ HOF on random vectors, ties included.
    */
  def probeCellsHof(queries: DataFrame, id: String,
      vec: String, centroids: DataFrame, nprobe: Int): DataFrame = {
    val cells = slice(array_sort(transform(col("__cents"), c =>
      struct((-cosine(col("qv"), c.getField("cvec"))).as("negCd"),
        c.getField("list_id").as("list_id")))), 1, nprobe)
    queries.select(col(id).as("query_id"), toDouble(col(vec)).as("qv"))
      .crossJoin(centroidArray(centroids))
      .select(col("query_id"), col("qv"),
        explode(cells).as("__cell"))
      .select(col("query_id"), col("qv"), col("__cell.list_id").as("list_id"))
  }

  /** The row-form scoring chain [[Similarity.ivfScoreTopK]] replaced —
    * one materialized candidate row per (query, cell vector), cosine as
    * a per-row column, bounded bottom-k over all candidates. The
    * EQUIVALENCE SPEC: SimilaritySpec pins block ≡ rows on a corpus with
    * ties and self-pairs.
    */
  def ivfScoreTopKRows(centroids: DataFrame,
      assigned: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, nprobe: Int): DataFrame = {
    val probes = probeCells(queries, id, vec, centroids, nprobe)
    val scored = assigned.join(probes, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    scored.groupBy(col("query_id"))
      .agg(ColumnBridge.collectBottomK(
        struct((-col("cos")).as("neg"), col("neighbor_id")), k).as("__tk"))
      .select(col("query_id"), posexplode(col("__tk")).as(Seq("__i", "__t")))
      .select(col("query_id"), col("__t.neighbor_id").as("neighbor_id"),
        (-col("__t.neg")).as("cos"), (col("__i") + 1).cast("long").as("rank"))
  }
}
