package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Packing

class StreamingPackingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming packing equals batch packing on in-order delivery") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("n_tokens", graft.operators.TextAnalysis.tokenCountWs(col("text")))
      .select("doc_id", "n_tokens")
    val dir = Files.createTempDirectory("graft-spack").toString
    docs.coalesce(1).write.mode("overwrite").parquet(dir)

    val q = Packing
      .packSequences(spark.readStream.schema(docs.schema).parquet(dir), 400L, 4)
      .writeStream
      .outputMode("append").format("memory").queryName("stream_pack")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_pack").as[Packing.PackedDoc]
      .collect().sortBy(_.doc_id)
    val batch = Packing.packSequences(docs, 400L, 4).collect().sortBy(_.doc_id)
    assert(streamed.length == batch.length && streamed.nonEmpty)
    assert(streamed.sameElements(batch))
  }

  test("packing state carries across micro-batches (budget holds globally)") {
    val docs = (0L until 60L).map(i => (i, 150L)).toDF("doc_id", "n_tokens")
    val dir = Files.createTempDirectory("graft-spack2").toString
    // many small files -> maxFilesPerTrigger forces multiple batches
    docs.repartition(6).write.mode("overwrite").parquet(dir)
    val q = Packing
      .packSequences(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "2").parquet(dir),
        maxTokens = 400L, nShards = 2,
      )
      .writeStream
      .outputMode("append").format("memory").queryName("stream_pack_mb")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("stream_pack_mb").as[Packing.PackedDoc].collect()
    assert(rows.length == 60)
    // per (shard, seq): token budget respected even though fills span batches
    val bySeq = rows.groupBy(r => (r.shard, r.seq_idx)).values
    assert(bySeq.forall(_.map(_.n_tokens).sum <= 400L))
    // 150-token docs pack 2 per sequence: every full sequence is exactly 300
    assert(bySeq.count(_.map(_.n_tokens).sum == 300L) >= bySeq.size - 2)
  }
}
