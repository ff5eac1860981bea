package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.AsofJoin
import graft.streaming.StreamingAsof

class StreamingAsofSpec extends SparkSpec {
  import spark.implicits._

  // day-1 base keeps event times above the initial watermark
  private def ts(min: Long) = new Timestamp(86400000L + min * 60000L)

  test("streaming backward asof equals batch asof once the watermark flushes") {
    // 3 symbols; ticks every 7 min, refs every 10 min with a per-symbol
    // phase; a sentinel symbol pushes the watermark past everything
    val ticks = (for {
      s <- Seq("A", "B", "C"); i <- 0 until 40
    } yield (s, ts(i * 7L + s.head - 'A'), 100.0 + i, i.toLong % 9 + 1, i.toLong)) :+
      (("ZZ", ts(100000L), 0.0, 1L, 999L))
    val refs = (for {
      s <- Seq("A", "B", "C"); j <- 0 until 28
    } yield (s, ts(j * 10L + (s.head - 'A') * 3L), (s.head - 'A') * 1000.0 + j)) :+
      (("ZZ", ts(100000L), -1.0))

    val tDf = ticks.toDF("symbol", "ts", "price", "size", "trade_id")
    val rDf = refs.toDF("symbol", "ts", "ref")
    val tDir = Files.createTempDirectory("graft-sasof-t").toString
    val rDir = Files.createTempDirectory("graft-sasof-r").toString
    tDf.write.mode("overwrite").parquet(tDir)
    rDf.write.mode("overwrite").parquet(rDir)

    val q = StreamingAsof
      .asofBackward(
        spark.readStream.schema(tDf.schema).parquet(tDir),
        spark.readStream.schema(rDf.schema).parquet(rDir),
        watermark = "30 minutes",
      )
      .writeStream
      .outputMode("append").format("memory").queryName("stream_asof")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_asof").where(col("symbol") =!= "ZZ")
    val batch = AsofJoin.asofNative(
      tDf.where(col("symbol") =!= "ZZ"),
      rDf.where(col("symbol") =!= "ZZ")
        .select(col("symbol"), col("ts"), col("ts").as("bref_ts"), col("ref").as("bref")),
      leftOn = "ts",
      rightOn = "ts",
      by = Seq("symbol"),
    )
    assert(batch.count() == 120)
    assert(streamed.count() == batch.count(), s"streamed=${streamed.count()}")
    val joined = streamed.as("s")
      .join(batch.as("b"), Seq("symbol", "trade_id"))
    assert(joined.count() == 120)
    assert(
      joined.where(
        col("s.ref") =!= col("b.bref") || col("s.ref_ts") =!= col("b.bref_ts") ||
          (col("s.ref").isNull =!= col("b.bref").isNull)
      ).count() == 0
    )
    // ticks before any ref exist and must carry a null ref
    assert(streamed.where(col("ref").isNull).count() ==
      batch.where(col("bref").isNull).count())
  }

  test("ticks inside the watermark horizon wait in state, not emitted early") {
    val tDf = Seq(("A", ts(0L), 1.0, 1L, 0L), ("A", ts(20L), 2.0, 1L, 1L))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val rDf = Seq(("A", ts(0L), 7.0)).toDF("symbol", "ts", "ref")
    val tDir = Files.createTempDirectory("graft-sasof2-t").toString
    val rDir = Files.createTempDirectory("graft-sasof2-r").toString
    tDf.write.mode("overwrite").parquet(tDir)
    rDf.write.mode("overwrite").parquet(rDir)
    val q = StreamingAsof
      .asofBackward(
        spark.readStream.schema(tDf.schema).parquet(tDir),
        spark.readStream.schema(rDf.schema).parquet(rDir),
        watermark = "30 minutes",
      )
      .writeStream
      .outputMode("append").format("memory").queryName("stream_asof_open")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // watermark = max(20min) - 30min < first tick: nothing emittable yet
    assert(spark.table("stream_asof_open").count() == 0)
  }
}
