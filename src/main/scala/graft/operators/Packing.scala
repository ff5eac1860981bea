package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Sequence packing: greedily fill fixed-token-budget training
  * sequences with whole documents — the step between cleaning/dedup
  * and writing pre-training shards.
  *
  * Packing is inherently sequential (each placement depends on the
  * running fill), so a 100 TB corpus is first sharded by document
  * hash; each shard packs independently in document-id order. That is
  * the same shape real pipelines use (pack within output shards), and
  * the same scale pattern as the bar operators: one keyed scan per
  * shard in doc-id order with O(1) state. Parallelism = nShards; no
  * cross-shard state.
  *
  * Contract: documents are packed first-fit in id order within a
  * shard; a sequence closes when the next document would overflow
  * maxTokens (close-BEFORE-overflow — sequences never exceed the
  * budget); a single document larger than maxTokens occupies a
  * sequence of its own.
  */
object Packing {

  final case class PackedDoc(
      doc_id: Long,
      n_tokens: Long,
      shard: Int,
      seq_idx: Long,
  )

  /** Assigns each document to (shard, seq_idx).
    *
    * @param tokCol an integral token-count column (e.g.
    *               TextAnalysis.tokenCountWs pre-computed)
    */
  def packSequences(
      docs: DataFrame,
      maxTokens: Long,
      nShards: Int,
      idCol: String = "doc_id",
      tokCol: String = "n_tokens",
      salt: String = "graft",
  ): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val input = docs.select(
      col(idCol).cast("long").as("doc_id"),
      col(tokCol).cast("long").as("n_tokens"),
      (Sampling.hashBucket(col(idCol), salt) % nShards).cast("int").as("shard"),
    )
    val out = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false), StructField("shard", IntegerType, nullable = false),
      StructField("seq_idx", LongType, nullable = false)))
    KeyedScan(input, Seq(col("shard")), Seq(col("doc_id")), out, keyOut = Seq("shard")) { () =>
      new ScanKernel {
        private var shard = 0
        private var fill = 0L // tokens in the open sequence
        private var seq = 0L

        def reset(key: InternalRow): Unit = { shard = key.getInt(0); fill = 0L; seq = 0L }

        def step(row: InternalRow, o: ScanOut): Unit = {
          if (row.isNullAt(0) || row.isNullAt(1))
            throw new IllegalArgumentException(s"packSequences: a document has a null $idCol or $tokCol")
          val tok = row.getLong(1)
          if (fill > 0L && fill + tok > maxTokens) { seq += 1L; fill = 0L }
          fill += tok
          val w = o.begin()
          w.write(0, row.getLong(0))
          w.write(1, tok)
          w.write(2, shard)
          w.write(3, seq)
          o.emit()
        }

        def flush(o: ScanOut): Unit = ()
      }
    }.as[PackedDoc]
  }

  /** Per-sequence summary (integer-exact: counts and token sums). */
  def sequenceStats(packed: Dataset[PackedDoc]): DataFrame =
    packed
      .groupBy(col("shard"), col("seq_idx"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
      )
}
