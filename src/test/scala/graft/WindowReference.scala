package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis, VectorAgg, VectorIndex}

/** The window and plan-per-round forms that `Dedup.exact` and
  * `Similarity.ivfTopK` replaced with keyed scans and driver-side
  * k-means means, kept as the references those are pinned against.
  */
object WindowReference {

  /** `Dedup.exact` as min/count windows over the fingerprint. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("fingerprint"))
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w).cast("long"))
      .withColumn("is_dup", (col(idCol) =!= col("keep_id")).cast("int"))
  }

  /** One spherical k-means round with the mean→sphere step as a
    * DataFrame plan over the summed buffers (`sumsToDF`, `meanCol`,
    * √Σm², drop norms not > 0, per-element divide).
    */
  def kmeansRound(nv: DataFrame, cents: DataFrame): DataFrame = {
    val (ids, mat, dim) = VectorIndex.collectCentroidsInline(cents).get
    val sums = VectorAgg.assignSumByMatrix(nv.select(col("nv")), ids, mat, dim)
    VectorAgg.sumsToDF(nv.sparkSession, sums)
      .select(col("k").as("cell"), VectorAgg.meanCol(col("s"), col("c")).as("mv"))
      .withColumn("__nrm", sqrt(Similarity.dot(col("mv"), col("mv"))))
      .where(col("__nrm") > 0)
      .select(col("cell").as("cent_id"), transform(col("mv"), x => x / col("__nrm")).as("cv"))
  }

  /** `Similarity.ivfTopK` with `nCells` seeds: probe cells ranked by a
    * row_number window over the query × centroid product, the top k
    * by a row_number window over the probed candidates.
    */
  def ivfTopK(
      emb: DataFrame,
      nQueries: Int,
      k: Int,
      nCells: Int,
      nProbe: Int,
      kmeansIters: Int,
  ): DataFrame = {
    val nv = emb.select(col("vec_id").as("id"),
      graft.functions.VectorExprs.normalizeNative(col("embedding")).as("nv"))
    val seed = nv.where(col("id") < nCells).select(col("id").as("cent_id"), col("nv").as("cv"))
    val cents = (0 until kmeansIters).foldLeft(seed) { (c, _) => kmeansRound(nv, c) }
    val (ids, mat, dim) = VectorIndex.collectCentroidsInline(cents).get
    val assigned = nv.select(col("id"), col("nv"),
      graft.functions.VectorExprs.nearestCellNative(col("nv"), ids, mat, dim).as("cell"))
    val qProbe = nv
      .where(col("id") < nQueries)
      .join(broadcast(cents), lit(true))
      .withColumn("cs", Similarity.dotNorm(col("nv"), col("cv")))
      .withColumn("r", row_number().over(Window.partitionBy(col("id")).orderBy(col("cs").desc, col("cent_id"))))
      .where(col("r") <= nProbe)
      .select(col("id").as("query_id"), col("nv").as("qv"), col("cent_id").as("cell"))
    val wRank = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    assigned
      .join(broadcast(qProbe), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), Similarity.dotNorm(col("qv"), col("nv")).as("score"))
      .withColumn("rnk", row_number().over(wRank))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("score"))
  }
}
