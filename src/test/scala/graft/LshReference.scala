package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup.{bandHashes, hashIfSmall, minhashA, minhashB, shingleBarrierLeafBytes, MinhashP}

/** The join form of `Dedup.lshJaccardPairs` (aggregate + join chains
  * and three plan-time barriers), kept as the reference the keyed-scan
  * form is pinned against: representatives by groupBy + join on the
  * set fingerprint, the bucket cap by a count + semi join, candidates
  * by a band self-join, member expansion by joins.
  */
object LshReference {

  def pairs(
      shingled: DataFrame,
      nHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 4096,
  ): DataFrame = {
    val base =
      graft.sources.Checkpoint.tableGated(shingled, "lsh-shingles", shingleBarrierLeafBytes)
    val keyed = base.select(
      col("id"),
      xxhash64(col("hsl")).as("__hk"),
      (size(col("hsl")) > 0).as("__ne"),
    )
    val members = graft.sources.Checkpoint.tableGated(
      keyed
        .join(keyed.groupBy(col("__hk")).agg(min(col("id")).as("rid")), Seq("__hk"))
        .select(col("id"), col("rid"), col("__ne").as("nonempty")),
      "lsh-members",
    )
    val reps = base.join(
      members.where(col("id") === col("rid")).select(col("id")),
      Seq("id"),
      "left_semi",
    )
    val sigd = graft.sources.Checkpoint.tableGated(
      reps.select(
        col("id"),
        graft.functions.TextExprs
          .minhashSig(
            col("hsl"),
            nHashes,
            MinhashP,
            (0 until nHashes).map(minhashA),
            (0 until nHashes).map(minhashB),
          )
          .as("sig"),
      ),
      "lsh-signatures",
    )
    val withBands = sigd
      .select(col("id"), explode(bandHashes(col("sig"), nHashes, bands)).as("band"))
    val okBands = withBands
      .groupBy(col("band"))
      .agg(count(lit(1)).as("s"))
      .where(col("s") <= maxBucket)
      .select(col("band"))
    val pruned = withBands.join(okBands, Seq("band"), "left_semi")
    val cand = pruned
      .as("a")
      .join(pruned.as("b"), col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val repPairs = cand
      .join(hashIfSmall(base.select(col("id").as("id_a"), col("hsl").as("sh_a"))), "id_a")
      .join(hashIfSmall(base.select(col("id").as("id_b"), col("hsl").as("sh_b"))), "id_b")
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"),
      )
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val intra = members
      .where(col("nonempty"))
      .as("a")
      .join(
        members.where(col("nonempty")).as("b"),
        col("a.rid") === col("b.rid") && col("a.id") < col("b.id"),
      )
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), lit(1.0).as("jaccard"))
      .where(lit(1.0) >= threshold)
    val inter = repPairs
      .join(hashIfSmall(members.select(col("rid").as("id_a"), col("id").as("ma"))), "id_a")
      .join(hashIfSmall(members.select(col("rid").as("id_b"), col("id").as("mb"))), "id_b")
      .select(
        least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        col("jaccard"),
      )
    intra.unionByName(inter)
  }

  /** `Dedup.minhashLsh`'s shingling, then [[pairs]]. */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame =
    pairs(
      docs.select(
        col("doc_id").as("id"),
        graft.functions.TextExprs.shingleHashes(graft.operators.TextAnalysis.normText(col("text")), 5).as("hsl"),
      ),
      threshold = threshold,
      maxBucket = maxBucket,
    )
}
