package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Bars
import graft.sources.TradeData
import graft.streaming.StreamingBars

/** Streaming time bars must agree with the batch operator on the
  * same input (complete-mode memory sink drives the whole file
  * through the streaming engine).
  */
class StreamingBarsSpec extends SparkSpec {

  test("stateful streaming tick bars equal batch tick bars (completed bars)") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-stateful").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StatefulBars
      .tickBars(stream, barSize = 20)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stateful_bars")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stateful_bars")
    // batch equivalent without date splitting; trailing partial bars
    // stay in streaming state, so compare completed bars only
    val batch = Bars
      .tickBars(trades, barSize = 20, splitByDate = false)
      .where(col("n_trades") === 20)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed
      .as("s")
      .join(batch.as("b"), col("s.symbol") === col("b.symbol") && col("s.ts_start") === col("b.ts_start"))
    // every streamed bar matches a batch bar (micros-exact ts_start)
    assert(joined.count() == batch.count())
    assert(
      joined.where(
        col("s.volume") =!= col("b.volume") ||
          col("s.vwap") =!= col("b.vwap") || // vwap cents-exact both sides: bit-equal
          col("s.open") =!= col("b.open") || col("s.close") =!= col("b.close")
      ).count() == 0
    )
  }

  test("streaming imbalance bars equal batch imbalance bars (adaptive thresholds)") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-simb").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.ImbalanceBars
      .tickImbalanceBars(stream, initTicks = 20.0)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_imb")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_imb")
    val batch = graft.operators.ImbalanceBars
      .tickImbalanceBars(trades, initTicks = 20.0)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed
      .as("s")
      .join(batch.as("b"), col("s.symbol") === col("b.symbol") && col("s.ts_start") === col("b.ts_start"))
    assert(joined.count() == batch.count())
    assert(
      joined.where(
        col("s.theta") =!= col("b.theta") ||
          col("s.volume") =!= col("b.volume") ||
          col("s.n_trades") =!= col("b.n_trades") ||
          col("s.vwap") =!= col("b.vwap") // vwap cents-exact both sides: bit-equal
      ).count() == 0
    )
  }

  test("streaming dollar/volume imbalance bars equal their batch twins") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sdimb").toString
    trades.write.mode("overwrite").parquet(dir)

    for (
      (name, streamFn, batchDf) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
        (
          "stream_dimb",
          s => graft.operators.ImbalanceBars.dollarImbalanceBars(s, initTicks = 20.0),
          graft.operators.ImbalanceBars.dollarImbalanceBars(trades, initTicks = 20.0),
        ),
        (
          "stream_vimb",
          s => graft.operators.ImbalanceBars.volumeImbalanceBars(s, initTicks = 20.0),
          graft.operators.ImbalanceBars.volumeImbalanceBars(trades, initTicks = 20.0),
        ),
      )
    ) {
      val stream = spark.readStream.schema(trades.schema).parquet(dir)
      val q = streamFn(stream)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      val streamed = spark.table(name)
      assert(streamed.count() == batchDf.count() && streamed.count() > 0, name)
      val joined = streamed
        .as("s")
        .join(batchDf.as("b"), col("s.symbol") === col("b.symbol") && col("s.ts_start") === col("b.ts_start"))
      assert(joined.count() == batchDf.count(), name)
      assert(
        joined.where(
          col("s.theta") =!= col("b.theta") ||
            col("s.volume") =!= col("b.volume") ||
            col("s.n_trades") =!= col("b.n_trades") ||
            col("s.vwap") =!= col("b.vwap")
        ).count() == 0,
        name,
      )
    }
  }

  test("streaming volume/dollar threshold bars equal their batch twins (completed bars)") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-svd").toString
    trades.write.mode("overwrite").parquet(dir)

    // Batch side filtered to COMPLETED bars — the open partial (incl.
    // day-tail partials) stays in streaming state. Exact filters:
    // split bars complete at volume == barSize; overflow bars at
    // volume >= barSize; dollar-overflow bars close when the bar's
    // Σcents reaches barCents, recovered exactly from the cents-exact
    // vwap (values ≪ 2^53, so round() is lossless).
    val cases = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
      (
        "stream_vbar_split",
        s => graft.streaming.StatefulBars.volumeBars(s, barSize = 500L).toDF(),
        Bars.volumeBars(trades, barSize = 500L).where(col("volume") === 500L),
      ),
      (
        "stream_vbar_ovf",
        s => Bars.volumeBars(s, barSize = 500L, allowSplits = false),
        Bars.volumeBars(trades, barSize = 500L, allowSplits = false).where(col("volume") >= 500L),
      ),
      (
        "stream_dbar_ovf",
        s => Bars.dollarBars(s, barSize = 50000.0),
        Bars.dollarBars(trades, barSize = 50000.0)
          .where(round(col("vwap") * 100.0 * col("volume")) >= 50000L * 100L),
      ),
      (
        "stream_dbar_split",
        s => graft.streaming.StatefulBars.dollarBarsSplit(s, barSize = 50000.0).toDF(),
        Bars.dollarBarsSplit(trades, barSize = 50000.0).where(col("dollar_volume") === 50000.0),
      ),
    )
    for ((name, streamFn, batchDf) <- cases) {
      val stream = spark.readStream.schema(trades.schema).parquet(dir)
      val q = streamFn(stream)
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      val streamed = spark.table(name)
      val batch = batchDf.select(streamed.columns.map(col): _*)
      assert(streamed.count() == batch.count() && streamed.count() > 0, name)
      // multiset equality (a single giant trade can fill several bars
      // sharing one ts_start, so no natural join key exists); every
      // double on both sides is cents-exact → bit-identical
      assert(streamed.exceptAll(batch).count() == 0, name)
      assert(batch.exceptAll(streamed).count() == 0, name)
    }
  }

  test("streaming tick run bars equal batch tick run bars") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-srun").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.ImbalanceBars
      .tickRunBars(stream, initTicks = 20.0)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_run")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_run")
    val batch = graft.operators.ImbalanceBars.tickRunBars(trades, initTicks = 20.0)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed
      .as("s")
      .join(batch.as("b"), col("s.symbol") === col("b.symbol") && col("s.ts_start") === col("b.ts_start"))
    assert(joined.count() == batch.count())
    assert(
      joined.where(
        col("s.up_ticks") =!= col("b.up_ticks") ||
          col("s.down_ticks") =!= col("b.down_ticks") ||
          col("s.volume") =!= col("b.volume") ||
          col("s.vwap") =!= col("b.vwap")
      ).count() == 0
    )
  }

  test("streaming rolling features equal the batch deque scan bit-for-bit") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sroll").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingRolling
      .features(stream, "1 hour")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_roll")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_roll")
    val batch = graft.operators.Rolling.features(trades, "1 hour")
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed
      .as("s")
      .join(
        batch.as("b"),
        col("s.symbol") === col("b.symbol") && col("s.trade_id") === col("b.trade_id"),
      )
    assert(joined.count() == batch.count())
    // Long-cents sums in both paths -> the doubles must be EQUAL,
    // not approximately equal
    assert(
      joined.where(
        col("s.rolling_n") =!= col("b.rolling_n") ||
          col("s.rolling_vwap") =!= col("b.rolling_vwap") ||
          col("s.rolling_mean_price") =!= col("b.rolling_mean_price") ||
          col("s.rolling_min") =!= col("b.rolling_min") ||
          col("s.rolling_max") =!= col("b.rolling_max")
      ).count() == 0
    )
  }

  test("streaming dedup emits each fingerprint once within the watermark") {
    import spark.implicits._
    val docs = Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "alpha beta gamma"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), "Alpha  Beta gamma"), // dup of 0 (normalized)
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "delta epsilon"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "alpha beta gamma"), // dup of 0
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), "zeta eta"),
    ).toDF("doc_id", "ts", "text")
    val dir = Files.createTempDirectory("graft-sdedup").toString
    docs.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = graft.streaming.StreamingDedup
      .exactWithinWatermark(stream, "ts", watermark = "1 hour")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_dedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val out = spark.table("stream_dedup")
    assert(out.count() == 3) // 0-group once, 2, 4
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(Set(2L, 4L)) == Set(2L, 4L))
    assert(ids.intersect(Set(0L, 1L, 3L)).size == 1) // exactly one of the dup group
  }

  test("streaming time bars equal batch time bars on the same data") {
    val batchTrades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-stream").toString
    batchTrades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(batchTrades.schema)
      .parquet(dir)
    val q = StreamingBars
      .timeBars(stream, "1 hour")
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_bars")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_bars")
    val batch = Bars.timeBars(batchTrades, "1 hour")
    assert(streamed.count() == batch.count())
    val joined = streamed
      .as("s")
      .join(batch.as("b"), Seq("symbol", "bar_ts"))
      .where(
        col("s.volume") =!= col("b.volume") ||
          col("s.n_trades") =!= col("b.n_trades") ||
          col("s.vwap") =!= col("b.vwap") || // vwap cents-exact both sides: bit-equal
          col("s.open") =!= col("b.open") || col("s.close") =!= col("b.close")
      )
    assert(joined.count() == 0)
  }

  test("streaming trend labels equal batch trend labels bit-exactly") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-strend").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.TrendScan
      .labels(stream, minHorizon = 5, maxHorizon = 12)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_trend")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_trend")
    val batch = graft.operators.TrendScan.labels(trades, minHorizon = 5, maxHorizon = 12)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batch.as("b"), Seq("symbol", "ts"))
    assert(joined.count() == batch.count())
    // integer moments + identical double trees: bit-equality, not tolerance
    assert(
      joined.where(
        col("s.best_l") =!= col("b.best_l") || col("s.label") =!= col("b.label") ||
          col("s.beta") =!= col("b.beta") || col("s.tval") =!= col("b.tval")
      ).count() == 0
    )
  }

  test("streaming triple-barrier equals batch on in-stream-closed events, bit-exact") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sbarrier").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingBarrier
      .labels(stream, horizon = "4 hours", constTarget = 0.02)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_barrier")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_barrier").collect()
    assert(streamed.nonEmpty)
    val batch = graft.operators.Labels
      .tripleBarrier(trades, horizon = "4 hours", constTarget = Some(0.02))
      .collect()
    val batchByKey = batch.map { r =>
      (r.getString(0), r.getTimestamp(1).getTime) -> r
    }.toMap
    // batch caps t1 at the symbol's last tick and emits end-of-data
    // verticals; the stream only closes windows a later tick proves
    // closed. Every streamed row must therefore appear in batch with
    // identical fields (t1 uncapped by construction of the filter).
    val lastTs = trades
      .groupBy("symbol").agg(org.apache.spark.sql.functions.max("ts").as("m"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).getTime).toMap
    var checked = 0
    streamed.foreach { s =>
      val key = (s.getString(0), s.getTimestamp(1).getTime)
      val b = batchByKey.getOrElse(key, fail(s"stream row $key missing from batch"))
      if (s.getTimestamp(3).getTime <= lastTs(key._1)) { // t1 within data: contracts coincide
        assert(s.getDouble(2) == b.getAs[Double]("trgt"))
        assert(s.getTimestamp(3) == b.getAs[java.sql.Timestamp]("t1"), s"t1 of $key")
        assert(s.getTimestamp(4) == b.getAs[java.sql.Timestamp]("touch_ts"), s"touch_ts of $key")
        assert(s.getInt(6) == b.getAs[Int]("label"), s"label of $key")
        val sr = if (s.isNullAt(5)) null else java.lang.Double.valueOf(s.getDouble(5))
        val br = b.getAs[java.lang.Double]("touch_return")
        assert(
          (sr == null && br == null) ||
            java.lang.Double.doubleToLongBits(sr) == java.lang.Double.doubleToLongBits(br),
          s"touch_return of $key: $sr vs $br",
        )
        checked += 1
      }
    }
    assert(checked > 100, s"only $checked comparable events")
    // and every batch event whose window closed in-stream was emitted
    val streamKeys = streamed.map(s => (s.getString(0), s.getTimestamp(1).getTime)).toSet
    val missing = batch.count { b =>
      val sym = b.getString(0)
      val t1 = b.getAs[java.sql.Timestamp]("t1").getTime
      t1 < lastTs(sym) && !streamKeys.contains((sym, b.getTimestamp(1).getTime))
    }
    assert(missing == 0, s"$missing in-stream-closed batch events not emitted")
  }

  test("streaming sadf equals batch sadf scan bit-exactly") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-ssadf").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.Sadf
      .sadf(stream, minWindow = 6, maxWindow = 15)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_sadf")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_sadf")
    val batch = graft.operators.Sadf.sadf(trades, minWindow = 6, maxWindow = 15)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batch.as("b"), Seq("symbol", "ts"))
    assert(joined.count() == batch.count())
    assert(
      joined.where(
        col("s.best_window") =!= col("b.best_window") ||
          col("s.beta") =!= col("b.beta") || col("s.sadf") =!= col("b.sadf")
      ).count() == 0
    )
  }

  test("streaming csw equals batch csw scan bit-exactly") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-scsw").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.StructuralBreak
      .cswScan(stream, minLag = 5, maxLag = 15)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_csw")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_csw")
    val batch = graft.operators.StructuralBreak.cswScan(trades, minLag = 5, maxLag = 15)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batch.as("b"), Seq("symbol", "ts"))
    assert(joined.count() == batch.count())
    assert(
      joined.where(
        col("s.best_lag") =!= col("b.best_lag") ||
          col("s.cs_stat") =!= col("b.cs_stat") || col("s.cs_crit") =!= col("b.cs_crit")
      ).count() == 0
    )
  }

  test("streaming corwin-schultz equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-scs").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .corwinSchultz(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_cs")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_cs")
    // the last open day per symbol stays in streaming state
    val batch = graft.operators.Microstructure
      .corwinSchultz(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    // identical double trees over identical integer ranges: bit-equal
    assert(
      joined.where(
        col("s.beta") =!= col("b.beta") || col("s.gamma") =!= col("b.gamma") ||
          col("s.alpha") =!= col("b.alpha") || col("s.spread") =!= col("b.spread") ||
          col("s.spread_pos") =!= col("b.spread_pos")
      ).count() == 0
    )
  }

  test("streaming order flow equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sof").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .orderFlow(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_of")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_of")
    val batch = graft.operators.Microstructure
      .orderFlow(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    assert(
      joined.where(
        col("s.n_ticks") =!= col("b.n_ticks") || col("s.buy_vol") =!= col("b.buy_vol") ||
          col("s.sell_vol") =!= col("b.sell_vol") || col("s.ofi") =!= col("b.ofi")
      ).count() == 0
    )
  }

  test("streaming microstructure features equal batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-smf").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .microFeatures(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_mf")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_mf")
    // the last open day per symbol stays in streaming state
    val batch = graft.operators.Microstructure
      .features(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    // identical integer moments + identical double trees: bit-equal
    // (kyle_lambda is nullable -> null-safe compare)
    assert(
      joined.where(
        col("s.n_deltas") =!= col("b.n_deltas") ||
          col("s.roll_spread") =!= col("b.roll_spread") ||
          !(col("s.kyle_lambda") <=> col("b.kyle_lambda"))
      ).count() == 0
    )
  }

  test("streaming amihud equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sam").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .amihud(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_am")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_am")
    val batch = graft.operators.Microstructure
      .amihud(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    assert(
      joined.where(
        col("s.n_ticks") =!= col("b.n_ticks") ||
          !(col("s.amihud_illiq") <=> col("b.amihud_illiq"))
      ).count() == 0
    )
  }

  test("streaming ou half-life equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sou").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .ouHalfLife(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_ou")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_ou")
    val batch = graft.operators.Microstructure
      .ouHalfLife(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    assert(
      joined.where(
        col("s.n_deltas") =!= col("b.n_deltas") ||
          !(col("s.ou_beta") <=> col("b.ou_beta")) ||
          !(col("s.ou_half_life") <=> col("b.ou_half_life"))
      ).count() == 0
    )
  }

  test("streaming hasbrouck lambda equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-shb").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .hasbrouck(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_hb")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_hb")
    val batch = graft.operators.Microstructure
      .hasbrouck(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    // identical integer moments + identical division: bit-equal
    assert(
      joined.where(
        col("s.n_deltas") =!= col("b.n_deltas") ||
          !(col("s.hasbrouck_lambda") <=> col("b.hasbrouck_lambda"))
      ).count() == 0
    )
  }

  test("streaming lz entropy equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-slz").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .lzEntropy(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_lz")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_lz")
    val batch = graft.operators.Microstructure
      .lzEntropyScan(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    // tick-ordered term sums in both forms: bit-equal
    assert(
      joined.where(
        col("s.n_ticks") =!= col("b.n_ticks") ||
          col("s.n_points") =!= col("b.n_points") ||
          !(col("s.lz_entropy") <=> col("b.lz_entropy"))
      ).count() == 0
    )
  }

  test("streaming becker-parkinson equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sbp").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .beckerParkinson(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_bp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_bp")
    val batch = graft.operators.Microstructure
      .beckerParkinson(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    assert(
      joined.where(
        col("s.beta") =!= col("b.beta") || col("s.gamma") =!= col("b.gamma") ||
          col("s.bp_sigma") =!= col("b.bp_sigma")
      ).count() == 0
    )
  }

  test("streaming realized vol equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-srv").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.Microstructure
      .realizedVol(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_rv")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_rv")
    val batch = graft.operators.Microstructure.realizedVol(trades)
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    assert(
      joined.where(
        col("s.n_returns") =!= col("b.n_returns") ||
          !(col("s.rv") <=> col("b.rv")) ||
          !(col("s.bv") <=> col("b.bv")) ||
          !(col("s.jump") <=> col("b.jump"))
      ).count() == 0
    )
  }

  test("streaming sign entropy equals batch on completed days") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sse").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingDaily
      .signEntropy(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_se")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_se")
    val batch = graft.operators.Microstructure
      .signEntropy(trades)
      .withColumn("date", col("date").cast("string"))
    val lastDay = batch.groupBy("symbol").agg(max("date").as("date"))
    val batchDone = batch.join(lastDay, Seq("symbol", "date"), "left_anti")
    assert(streamed.count() == batchDone.count() && streamed.count() > 0)
    val joined = streamed.as("s").join(batchDone.as("b"), Seq("symbol", "date"))
    assert(joined.count() == batchDone.count())
    assert(
      joined.where(
        col("s.n_ticks") =!= col("b.n_ticks") ||
          col("s.h1") =!= col("b.h1") || col("s.h2") =!= col("b.h2") || col("s.h3") =!= col("b.h3")
      ).count() == 0
    )
  }

  test("streaming vpin equals batch bit-for-bit on completed buckets") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-svpin").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingVpin
      .vpin(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_vpin")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_vpin")
    val batch = graft.operators.Microstructure
      .vpin(trades)
      .withColumn("date", col("date").cast("string"))
    // every streamed bucket matches batch exactly (integer sums,
    // identical single division -> bit-equal vpin)
    val joined = streamed.as("s").join(batch.as("b"), Seq("symbol", "date", "bucket"))
    assert(streamed.count() > 0 && joined.count() == streamed.count())
    assert(
      joined.where(
        col("s.v_buy") =!= col("b.v_buy") || col("s.v_sell") =!= col("b.v_sell") ||
          col("s.volume") =!= col("b.volume") || col("s.imbalance") =!= col("b.imbalance") ||
          col("s.vpin") =!= col("b.vpin")
      ).count() == 0
    )
    // the only batch rows missing from the stream are open partial
    // buckets: per symbol, the last (date, bucket)
    val missing = batch.join(streamed, Seq("symbol", "date", "bucket"), "left_anti")
    val lastRow = batch
      .groupBy("symbol")
      .agg(max(struct(col("date"), col("bucket"))).as("m"))
      .select(col("symbol"), col("m.date").as("date"), col("m.bucket").as("bucket"))
    assert(missing.join(lastRow, Seq("symbol", "date", "bucket"), "left_anti").count() == 0)
  }

  test("streaming cusum events equal batch cusum events exactly") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-scusum").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.Cusum
      .events(stream, threshold = 50.0)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_cusum")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_cusum")
    val batch = graft.operators.Cusum.events(trades, threshold = 50.0)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    // integer state on both paths: every field matches exactly
    val joined = streamed
      .as("s")
      .join(batch.as("b"), Seq("symbol", "ts"))
    assert(joined.count() == batch.count())
    assert(
      joined.where(
        col("s.side") =!= col("b.side") ||
          col("s.s_pos") =!= col("b.s_pos") || col("s.s_neg") =!= col("b.s_neg")
      ).count() == 0
    )
  }

  test("streaming frac_diff equals the batch window form bit-for-bit") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sfd").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.streaming.StreamingFracDiff
      .fracDiff(stream, d = 0.5, threshold = 1e-3)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_fd")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_fd")
    val batch = trades.withColumn(
      "frac_diff",
      graft.functions.FracDiff
        .fracDiff(col("price"), 0.5, 1e-3, Seq(col("symbol")), Seq(col("ts"), col("trade_id"))),
    )
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed
      .as("s")
      .join(batch.as("b"), Seq("symbol", "trade_id"))
    assert(joined.count() == batch.count())
    // same weight literals accumulated in the same IEEE order:
    // EQUAL doubles, not approximately equal (null <=> null)
    assert(
      joined
        .where(!(col("s.frac_diff") <=> col("b.frac_diff")))
        .count() == 0
    )
    assert(streamed.where(col("frac_diff").isNotNull).count() > 0)
  }

  test("streaming frac_diff state carry: a mid-symbol batch split changes nothing") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.StreamingFracDiff.{processGroup, FdState}
    import graft.streaming.StatefulBars.Tick
    val ws = graft.functions.FracDiff.weights(0.5, 1e-3)
    val ticks = (1 to 100).map { i =>
      Tick("A", java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), 100.0 + (i % 7) * 0.25, 1L, i.toLong)
    }

    def run(chunks: Seq[Seq[Tick]]): Seq[Option[Double]] = {
      var st: Option[FdState] = None
      chunks.flatMap { chunk =>
        val gs = TestGroupState.create[FdState](
          org.apache.spark.api.java.Optional.ofNullable(st.orNull),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
          0L,
          org.apache.spark.api.java.Optional.empty[Long](),
          false,
        )
        val out = processGroup(ws)("A", chunk.iterator, gs).toSeq
        st = if (gs.exists) Some(gs.get) else None
        out.map(_.frac_diff)
      }
    }

    val whole = run(Seq(ticks))
    // split inside the warm-up window AND inside the steady state
    for (cut <- Seq(5, ws.length - 1, ws.length + 3, 60)) {
      val split = run(Seq(ticks.take(cut), ticks.drop(cut)))
      assert(split == whole, s"state carry diverged at split $cut")
    }
    assert(whole.count(_.isDefined) == 100 - (ws.length - 1))
  }

  test("streaming daily_vol equals the batch EWM scan bit-for-bit") {
    val trades = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-sdvol").toString
    trades.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(trades.schema).parquet(dir)
    val q = graft.operators.Labels
      .dailyVol(stream, span = 100)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_dvol")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_dvol")
    val batch = graft.operators.Labels.dailyVol(trades, span = 100)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    val joined = streamed
      .as("s")
      .join(batch.as("b"), Seq("symbol", "ts"))
    assert(joined.count() == batch.count())
    // identical as-of lookback + identical EWM moment arithmetic:
    // EQUAL doubles (null <=> null on the warm-up prefix)
    assert(
      joined
        .where(!(col("s.daily_return_volatility") <=> col("b.daily_return_volatility")))
        .count() == 0
    )
    assert(streamed.where(col("daily_return_volatility").isNotNull).count() > 0)
  }

  test("streaming daily_vol state carry: a mid-symbol batch split changes nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // 72-minute spacing with the 24-hour lookback: ticks 21+ have a
    // lookback price, crossing the warm-up boundary inside the run
    val ticks = (1 to 90).map { i =>
      ("A", new java.sql.Timestamp(i * 72L * 60000L), 100.0 + (i % 11) * 0.5, 1L, i.toLong)
    }

    def run(tag: String, chunks: Seq[Seq[(String, java.sql.Timestamp, Double, Long, Long)]]): Seq[Option[Double]] = {
      val ms = MemoryStream[(String, java.sql.Timestamp, Double, Long, Long)](spark)
      val q = graft.operators.Labels
        .dailyVol(ms.toDF().toDF("symbol", "ts", "price", "size", "trade_id"), span = 100)
        .writeStream.outputMode("append").format("memory").queryName(s"stream_dvol_$tag")
        .start()
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      q.stop()
      spark.table(s"stream_dvol_$tag").orderBy("ts").collect().toSeq
        .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }

    val whole = run("whole", Seq(ticks))
    assert(whole.take(20).forall(_.isEmpty) && whole.drop(21).forall(_.isDefined))
    for (cut <- Seq(7, 20, 21, 55)) {
      val split = run(s"cut$cut", Seq(ticks.take(cut), ticks.drop(cut)))
      assert(split == whole, s"state carry diverged at split $cut")
    }
  }

  test("priceless ticks: every keyed scan gives its batch rows on a stream") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators._
    def tick(sym: String, i: Int, price: Option[Double]) =
      (sym, new java.sql.Timestamp(1704067200000L + i * 7200000L), price, 10L + (i * 7) % 41, i.toLong)
    // A and B: 40 two-hourly ticks over four days, each with one NaN
    // and one null price; C and D: the five-tick CUSUM case with a NaN
    // and a null price in the middle
    val walk = (0 until 40).map(i => 100.0 + ((i * 13) % 9 - 4) * 0.75 + i * 0.1)
    val rows = Seq("A", "B").flatMap { sym =>
      walk.indices.map { i =>
        val price =
          if (sym == "A" && i == 10 || sym == "B" && i == 15) Some(Double.NaN)
          else if (sym == "A" && i == 20 || sym == "B" && i == 25) None
          else Some(walk(i) + (if (sym == "B") 3.0 else 0.0))
        tick(sym, i, price)
      }
    } ++ Seq(Some(100.0), Some(101.0), Some(Double.NaN), Some(101.5), Some(99.0)).zipWithIndex.map {
      case (p, i) => tick("C", i, p)
    } ++ Seq(Some(100.0), Some(101.0), None, Some(101.5), Some(99.0)).zipWithIndex.map {
      case (p, i) => tick("D", i, p)
    }
    val trades = rows.toDF("symbol", "ts", "price", "size", "trade_id")
    // the batch rows a stream also emits: a bar, or a realized-vol day,
    // that only `flush` closes stays in streaming state
    val lastDays = (df: DataFrame) =>
      df.join(df.groupBy("symbol").agg(max("date").as("date")), Seq("symbol", "date"), "left_anti")
    val cases = Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)](
      ("cusum", Cusum.events(_, threshold = 1.0), identity),
      ("sadf", Sadf.sadf(_, minWindow = 4, maxWindow = 6), identity),
      ("csw", StructuralBreak.cswScan(_, minLag = 2, maxLag = 5), identity),
      ("trend", TrendScan.labels(_, minHorizon = 3, maxHorizon = 5), identity),
      ("dvol", Labels.dailyVol(_, span = 10), identity),
      ("rvol", Microstructure.realizedVol(_), lastDays),
      ("dbar", Bars.dollarBars(_, barSize = 5000.0), _.where(round(col("vwap") * 100.0 * col("volume")) >= 500000L)),
      ("vbar", Bars.volumeBars(_, barSize = 100L, allowSplits = false), _.where(col("volume") >= 100L)),
      ("timb", ImbalanceBars.tickImbalanceBars(_, initTicks = 5.0), identity),
      ("dimb", ImbalanceBars.dollarImbalanceBars(_, initTicks = 5.0), identity),
      ("vimb", ImbalanceBars.volumeImbalanceBars(_, initTicks = 5.0), identity),
      ("run", ImbalanceBars.tickRunBars(_, initTicks = 5.0), identity),
    )
    for ((name, op, emitted) <- cases) {
      val ms = MemoryStream[(String, java.sql.Timestamp, Option[Double], Long, Long)](spark)
      val q = op(ms.toDF().toDF("symbol", "ts", "price", "size", "trade_id"))
        .writeStream.outputMode("append").format("memory").queryName(s"priceless_$name")
        .start()
      // two micro-batches, split in the middle of A and B
      Seq(rows.filter(_._5 < 20), rows.filter(_._5 >= 20)).foreach { b => ms.addData(b); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table(s"priceless_$name")
      val batch = emitted(op(trades))
      assert(streamed.count() > 0 && streamed.count() == batch.count(), name)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty, name)
    }
    // the NaN tick is dropped, not read as a price: two CUSUM events
    assert(spark.table("priceless_cusum").where(col("symbol") === "C").count() == 2)
  }
}
