package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.TradingCols
import graft.functions.{Ewm, FracDiff}
import graft.operators.{AsofJoin, Bars, Labels}

/** Pins the market-data operators to the reference's own test
  * vectors (/root/reference/tests/...).
  */
class CoreOperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def trades(rows: (String, String, Double, Long)*) =
    rows.zipWithIndex
      .map { case ((sym, t, p, sz), i) => (sym, ts(t), p, sz, i.toLong) }
      .toDF("symbol", "ts", "price", "size", "trade_id")

  // --- volume bars: reference test_bars.py:78 overflow trade ---
  test("volume bars split an overflowing trade at the boundary") {
    val df = trades(("A", "2021-01-01 00:00:00", 3.0, 8L))
    val out = Bars.volumeBars(df, barSize = 5L).collect()
    assert(out.map(r => (r.getAs[Long]("volume"), r.getAs[Long]("n_trades"))).toSet ==
      Set((5L, 1L), (3L, 1L)))
    assert(out.forall(_.getAs[Double]("vwap") == 3.0))
  }

  // --- volume bars, overflow mode (bar_groups allow_splits=false,
  // src/bars.rs:53): whole trade joins the bar, close with overflow,
  // trailing partial bar emitted ---
  test("volume bars overflow mode keeps trades whole and emits the partial bar") {
    val df = trades(
      ("A", "2021-01-01 00:00:00", 3.0, 3L),
      ("A", "2021-01-01 00:01:00", 4.0, 3L), // 3+3=6 >= 5 -> close with overflow
      ("A", "2021-01-01 00:02:00", 5.0, 3L), // trailing partial
    )
    val out = Bars.volumeBars(df, barSize = 5L, allowSplits = false).orderBy("ts_start").collect()
    assert(out.map(r => (r.getAs[Long]("volume"), r.getAs[Long]("n_trades"))).toSeq ==
      Seq((6L, 2L), (3L, 1L)))
    assert(out.head.getAs[Double]("open") == 3.0 && out.head.getAs[Double]("close") == 4.0)
    // single 8-unit trade vs barSize 5: one bar of 8, no split
    val one = Bars.volumeBars(trades(("A", "2021-01-01 00:00:00", 3.0, 8L)), barSize = 5L, allowSplits = false).collect()
    assert(one.map(_.getAs[Long]("volume")).toSeq == Seq(8L))
  }

  /** `got` and `want` ordered by (symbol, ts_start, ts_end) are equal
    * row by row, doubles bit for bit.
    */
  private def assertBarsBitEqual(got0: DataFrame, want0: DataFrame): Unit = {
    val key = Seq("symbol", "ts_start", "ts_end")
    val want = want0.orderBy(key.head, key.tail: _*).collect()
    val got = got0.orderBy(key.head, key.tail: _*).collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      (0 until g.length).foreach { i =>
        (g.get(i), w.get(i)) match {
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(
              java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
              s"col $i of ${g.get(0)} ${g.get(1)}",
            )
          case (a, b) => assert(a == b, s"col $i of ${g.get(0)} ${g.get(1)}")
        }
      }
    }
  }

  test("volume bars overflow: fused scan == groupBy twin, bit-exact on real ticks") {
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    assertBarsBitEqual(
      Bars.volumeBars(t, barSize = 500L, allowSplits = false),
      BarsReference.volumeBarsOverflowAgg(t, barSize = 500L, splitByDate = true),
    )
  }

  test("dollar bars: fused scan == groupBy twin, bit-exact on real ticks, with and without days") {
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    for (split <- Seq(true, false))
      assertBarsBitEqual(
        Bars.dollarBars(t, barSize = 50000.0, splitByDate = split),
        BarsReference.dollarBarsAgg(t, barSize = 50000.0, splitByDate = split),
      )
  }

  // --- dollar bars, split mode (bar_groups(price*size, splits=true)):
  // boundaries at exact dollar multiples, straddling value split ---
  test("dollar bars split mode cuts the dollar value at exact boundaries") {
    val df = trades(("A", "2021-01-01 00:00:00", 3.0, 8L)) // $24 vs $13 bars
    val out = Bars.dollarBarsSplit(df, barSize = 13.0).orderBy("ts_start").collect()
    assert(out.map(_.getAs[Double]("dollar_volume")).toSeq == Seq(13.0, 11.0))
    assert(out.forall(_.getAs[Double]("vwap") == 3.0))
    assert(out.map(_.getAs[Long]("n_trades")).toSeq == Seq(1L, 1L))
    // multi-trade: $9 + $8 with $10 bars -> first bar exactly $10 (splits trade 2)
    val df2 = trades(
      ("A", "2021-01-01 00:00:00", 3.0, 3L),
      ("A", "2021-01-01 00:01:00", 4.0, 2L),
    )
    val out2 = Bars.dollarBarsSplit(df2, barSize = 10.0).orderBy("ts_start").collect()
    assert(out2.map(_.getAs[Double]("dollar_volume")).toSeq == Seq(10.0, 7.0))
    assert(out2.head.getAs[Long]("n_trades") == 2L) // trade 1 + first $1 of trade 2
  }

  // --- dollar bars: reference test_bars.py:115 unit-level overflow ---
  test("dollar bars split by unit-level overflow") {
    val df = trades(("A", "2021-01-01 00:00:00", 3.0, 8L))
    val out = Bars.dollarBars(df, barSize = 13.0).collect()
    // 8 units of $3: bar closes on the 5th unit ($15 >= $13, overflow)
    assert(out.map(_.getAs[Long]("volume")).toSet == Set(5L, 3L))
  }

  test("dollar bars carry dollars across trades within a day") {
    val df = trades(
      ("A", "2021-01-01 00:00:00", 2.0, 2L), // $4
      ("A", "2021-01-01 00:01:00", 2.0, 2L), // cum $8 >= 8 -> close
      ("A", "2021-01-01 00:02:00", 5.0, 1L), // $5
      ("A", "2021-01-01 00:03:00", 1.0, 4L), // closes at 3rd unit ($8), 1 unit carries
    )
    val out = Bars.dollarBars(df, barSize = 8.0).orderBy("ts_start").collect()
    assert(out.map(_.getAs[Long]("volume")).toSeq == Seq(4L, 4L, 1L))
  }

  test("tick bars group N ticks per (symbol, date)") {
    val df = trades(
      ("A", "2021-01-01 00:00:00", 1.0, 1L),
      ("A", "2021-01-01 00:01:00", 2.0, 1L),
      ("A", "2021-01-01 00:02:00", 3.0, 1L),
      ("A", "2021-01-02 00:00:00", 4.0, 1L), // new date -> new bar
    )
    val out = Bars.tickBars(df, barSize = 2).collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("n_trades")).sorted.toSeq == Seq(1L, 1L, 2L))
  }

  test("time bars OHLCV matches a hand computation") {
    val df = trades(
      ("A", "2021-01-01 10:05:00", 10.0, 2L),
      ("A", "2021-01-01 10:20:00", 30.0, 1L),
      ("A", "2021-01-01 10:40:00", 20.0, 1L),
      ("A", "2021-01-01 11:10:00", 5.0, 1L),
    )
    val out = Bars.timeBars(df, "1 hour").orderBy("bar_ts").collect()
    assert(out.length == 2)
    val b = out.head
    assert(b.getAs[Double]("open") == 10.0 && b.getAs[Double]("close") == 20.0)
    assert(b.getAs[Double]("high") == 30.0 && b.getAs[Double]("low") == 10.0)
    assert(b.getAs[Long]("volume") == 4L)
    assert(math.abs(b.getAs[Double]("vwap") - (10 * 2 + 30 + 20.0) / 4) < 1e-12)
  }

  // --- vertical barrier: reference test_dynamic_labels.py:169 (2h)
  //     and :207 (3h skip-rows) ---
  private val barrierTs = Seq(
    "2024-01-01 00:00:00", "2024-01-01 03:00:00", "2024-01-01 06:00:00",
    "2024-01-01 09:00:00", "2024-01-01 15:00:00", "2024-01-01 20:00:00",
    "2024-01-02 01:00:00", "2024-01-03 05:00:00", "2024-01-03 07:00:00",
    "2024-01-03 09:00:00",
  )

  private def barrierDf =
    barrierTs.zipWithIndex
      .map { case (t, i) => ("A", ts(t), 1.0, 1L, i.toLong) }
      .toDF("symbol", "ts", "price", "size", "trade_id")

  test("vertical barrier 2h matches reference vector") {
    val out = Labels.verticalBarrier(barrierDf, "2 hours").orderBy("ts").collect()
    val expected = Seq(
      "2024-01-01 03:00:00", "2024-01-01 06:00:00", "2024-01-01 09:00:00",
      "2024-01-01 15:00:00", "2024-01-01 20:00:00", "2024-01-02 01:00:00",
      "2024-01-03 05:00:00", "2024-01-03 07:00:00", "2024-01-03 09:00:00", null,
    )
    assert(out.map(r => Option(r.getAs[Timestamp]("vertical_barrier")).map(_.toString.stripSuffix(".0")).orNull).toSeq
      == expected)
  }

  test("vertical barrier 3h skips rows (reference vector)") {
    val out = Labels.verticalBarrier(barrierDf, "3 hours").orderBy("ts").collect()
    val exp = Seq(
      "2024-01-01 03:00:00", "2024-01-01 06:00:00", "2024-01-01 09:00:00",
      "2024-01-01 15:00:00", "2024-01-01 20:00:00", "2024-01-02 01:00:00",
      "2024-01-03 05:00:00", "2024-01-03 09:00:00", null, null,
    )
    assert(out.map(r => Option(r.getAs[Timestamp]("vertical_barrier")).map(_.toString.stripSuffix(".0")).orNull).toSeq
      == exp)
  }

  // --- daily_vol: reference test_dynamic_labels.py:63 weekend returns ---
  test("daily_vol span=3 matches reference weekend-returns vector") {
    val df = barrierTs.zipWithIndex
      .map { case (t, i) => ("A", ts(t), (i + 1).toDouble, 1L, i.toLong) }
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val out = Labels.dailyVol(df, span = 3).orderBy("ts").collect()
    val got = out.map(r => Option(r.getAs[Double]("daily_return_volatility")))
    assert(got.take(6).forall(_.isEmpty))
    val vals = got.drop(6).map(_.get)
    val exp = Seq(0.0, 4.141625, 2.668519, 1.792192)
    vals.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-5, s"$g vs $e") }
  }

  // --- fixed_time_return: reference test_labels.py:11 ---
  test("fixed_time_return window=1 matches reference vector") {
    val df = (1 to 5)
      .map(i => ("A", ts(f"2024-01-01 00:0$i:00"), i.toDouble, 1L, i.toLong))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val out = Labels.fixedTimeReturn(df, window = 1).orderBy("ts").collect()
    val got = out.map(r => Option(r.getAs[Double]("fwd_return")))
    assert(got(0).contains(0.5))
    assert(math.abs(got(1).get - 1.0 / 3) < 1e-12)
    assert(got(2).contains(0.25))
    assert(got(3).isEmpty && got(4).isEmpty)
  }

  test("classification thresholds map to {-1,0,1} with null passthrough") {
    val df = Seq(
      (Some(0.10), 1), (Some(-0.10), -1), (Some(0.01), 0),
    ).map { case (v, e) => (v, e) }.toDF("v", "expected")
    val out = df
      .withColumn("label", Labels.classifyByThreshold(col("v"), Some(lit(0.05))))
      .collect()
    out.foreach(r => assert(r.getAs[Int]("label") == r.getAs[Int]("expected")))
  }

  // --- frac_diff weights: reference frac_diff.rs:7 recurrence ---
  test("frac_diff weights follow the FFD recurrence") {
    val w = FracDiff.weights(0.5, 1e-3)
    assert(w(0) == 1.0 && w(1) == -0.5 && w(2) == -0.125)
    assert(w.drop(1).forall(math.abs(_) >= 1e-3))
    // next weight after the last kept one must be below threshold
    val k = w.length.toDouble
    assert(math.abs(-w.last / k * (0.5 - k + 1)) < 1e-3)
  }

  test("frac_diff output equals driver-side dot product") {
    val prices = Seq(100.0, 101.0, 99.5, 102.0, 103.5, 101.2, 100.8, 104.0)
    val df = prices.zipWithIndex
      .map { case (p, i) => ("A", ts(f"2024-01-01 00:0$i:00"), p, 1L, i.toLong) }
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val d = 0.4
    val thr = 0.1 // few weights for the tiny series
    val w = FracDiff.weights(d, thr)
    val out = df
      .select(
        col("ts"),
        FracDiff.fracDiff(col("price"), d, thr, Seq(col("symbol")), Seq(col("ts"))).as("fd"),
      )
      .orderBy("ts")
      .collect()
      .map(r => Option(r.getAs[Double]("fd")))
    prices.indices.foreach { i =>
      if (i < w.length - 1) assert(out(i).isEmpty)
      else {
        val exp = w.indices.map(k => w(k) * prices(i - k)).sum
        assert(math.abs(out(i).get - exp) < 1e-12)
      }
    }
  }

  // --- asof join: generic backward/forward with tolerance ---
  test("asof backward/forward with by-keys and tolerance") {
    val left = Seq(("A", 10L), ("A", 25L), ("B", 10L)).toDF("sym", "k")
    val right = Seq(("A", 8L, 1.0), ("A", 20L, 2.0), ("B", 50L, 3.0))
      .toDF("sym", "rk", "v")
    val back = AsofJoin
      .asofNative(left, right, "k", "rk", by = Seq("sym"))
      .orderBy("sym", "k")
      .collect()
    assert(back.map(r => Option(r.getAs[Double]("v"))).toSeq == Seq(Some(1.0), Some(2.0), None))
    val fwd = AsofJoin
      .asofNative(left, right, "k", "rk", by = Seq("sym"), direction = AsofJoin.Forward)
      .orderBy("sym", "k")
      .collect()
    assert(fwd.map(r => Option(r.getAs[Double]("v"))).toSeq == Seq(Some(2.0), None, Some(3.0)))
    val tol = AsofJoin
      .asofNative(left, right, "k", "rk", by = Seq("sym"), tolerance = Some(3.0))
      .orderBy("sym", "k")
      .collect()
    assert(tol.map(r => Option(r.getAs[Double]("v"))).toSeq == Seq(Some(1.0), None, None))
  }

  test("asof agrees with the brute-force reference on all strategies x tolerance") {
    val leftRows = Seq(("A", 10L, "x"), ("A", 25L, "y"), ("B", 10L, "z"), ("B", 9L, "w"))
    val rightRows = Seq(("A", 8L, 1.0), ("A", 20L, 2.0), ("A", 21L, 2.5), ("B", 50L, 3.0))
    val left = leftRows.toDF("sym", "k", "payload")
    val right = rightRows.toDF("sym", "rk", "v")
    for {
      dir <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)
      tol <- Seq(None, Some(5.0))
    } {
      val got = AsofJoin
        .asofNative(left, right, "k", "rk", by = Seq("sym"), direction = dir, tolerance = tol)
        .collect()
        .map(r => r.getString(2) -> Option(r.getAs[Double]("v")))
        .toMap
      val want = AsofReference.matches(
        leftRows.map(l => (l._1, Some(l._2))),
        rightRows.map(r => (r._1, Some(r._2), r._3)),
        dir,
        tol,
      )
      assert(got.size == leftRows.size)
      leftRows.zip(want).foreach { case (l, w) =>
        assert(AsofReference.allows(w, got(l._3)), s"direction $dir tolerance $tol row $l")
      }
    }
    // nearest picks the closer side; ties and equal keys go backward
    val near = AsofJoin
      .asofNative(left, right, "k", "rk", by = Seq("sym"), direction = AsofJoin.Nearest)
      .orderBy("sym", "k")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Double]("v")))
    // A k=10: dist to rk=8 is 2 vs rk=20 is 10 -> 1.0; A k=25: rk=21
    // (4) vs nothing forward -> 2.5; B: rk=50 both ways -> 3.0
    assert(near.toSeq == Seq(("A", 10L, 1.0), ("A", 25L, 2.5), ("B", 9L, 3.0), ("B", 10L, 3.0)))
    // nearest + tolerance 5: B rows are 40+ away -> null
    val nearTol = AsofJoin
      .asofNative(left, right, "k", "rk", by = Seq("sym"), direction = AsofJoin.Nearest, tolerance = Some(5.0))
      .orderBy("sym", "k")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getAs[Double]("v"))))
    assert(nearTol.toSeq == Seq(
      ("A", 10L, Some(1.0)), ("A", 25L, Some(2.5)), ("B", 9L, None), ("B", 10L, None)))
    // inclusive semantics: backward at k=25 sees rk=21; forward at
    // k=10 sees rk=20
    val back = AsofJoin
      .asofNative(left, right, "k", "rk", by = Seq("sym"))
      .where($"sym" === "A" && $"k" === 25L)
      .head()
    assert(back.getAs[Double]("v") == 2.5)
    val fwd = AsofJoin
      .asofNative(left, right, "k", "rk", by = Seq("sym"), direction = AsofJoin.Forward)
      .where($"sym" === "A" && $"k" === 10L)
      .head()
    assert(fwd.getAs[Double]("v") == 2.0)
  }

  test("asof matches the brute-force reference on real trade data") {
    val trades = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val dayMicros = 24L * 3600L * 1000000L
    val left = trades.select(
      col("symbol"), col("ts"), col("price"),
      (col("ts") - expr("INTERVAL 24 hours")).as("lb"),
    )
    val right = trades.select(col("symbol"), col("ts").as("rts"), col("price").as("lp"))
    val got = AsofJoin
      .asofNative(left, right, "lb", "rts", by = Seq("symbol"))
      .select(col("symbol"), unix_micros(col("ts")), col("lp"))
      .collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.get(2))))
      .toSeq
    val ticks = trades.select(col("symbol"), unix_micros(col("ts")), col("price")).collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.get(2)))
      .toSeq
    // every left row comes out once, with a value the reference allows
    assert(got.map(g => (g._1, g._2)).sortBy(_.toString) == ticks.map(t => (t._1, t._2)).sortBy(_.toString))
    val want = AsofReference.matches(got.map(g => (g._1, g._2.map(_ - dayMicros))), ticks)
    assert(want.exists(_.nonEmpty), "the fixture must exercise matched lookbacks")
    got.zip(want).foreach { case (g, w) =>
      assert(AsofReference.allows(w, g._3), s"row $g")
    }
  }

  // --- a null-ts tick: no lookback, never a lookback for others ---
  test("returns24h and dailyVol keep a null-ts tick out of every lookback") {
    val rows = Seq(
      ("A", Some(ts("1970-01-04 00:00:00")), 10.0, 0L),
      ("A", None, 20.0, 1L),
      ("A", Some(ts("1970-01-05 06:00:00")), 12.0, 2L),
    )
    val df = rows.map { case (s, t, p, id) => (s, t.orNull, p, 1L, id) }
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val ret = Labels.returns24h(df).collect()
      .map(r => r.getAs[Double]("price") -> (
        Option(r.getAs[Any]("lookback_price")), Option(r.getAs[Any]("return24h"))))
      .toMap
    assert(ret(10.0) == (None, None))
    assert(ret(20.0) == (None, None))
    assert(ret(12.0)._1.contains(10.0))
    assert(math.abs(ret(12.0)._2.get.asInstanceOf[Double] - 0.2) < 1e-12)
    val vol = Labels.dailyVol(df, span = 3).collect()
    assert(vol.length == 3)
    val (nullTs, timed) = vol.partition(_.isNullAt(1))
    assert(nullTs.length == 1 && nullTs.head.isNullAt(2))
    val without = Labels.dailyVol(df.where(col("ts").isNotNull), span = 3).collect()
    def byTs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getAs[Timestamp]("ts"), Option(r.getAs[Any]("daily_return_volatility")))).toSet
    assert(byTs(timed) == byTs(without))
    assert(byTs(without).exists(_._2.nonEmpty))
  }

  test("tick imbalance bars close on one-sided runs and conserve volume") {
    import graft.operators.ImbalanceBars
    // monotone up-run: every tick has sign +1, so with initTicks=4,
    // initImbalance=1 the threshold is 4 and bars close every 4 ticks
    val df = trades((0 until 12).map { i =>
      ("A", f"2024-01-01 00:${i}%02d:00", 100.0 + i, 10L)
    }: _*)
    val out = ImbalanceBars
      .tickImbalanceBars(df, initTicks = 4, initImbalance = 1.0, alpha = 0.0001)
      .orderBy("ts_start")
      .collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getAs[Long]("n_trades") == 4 && r.getAs[Long]("theta") == 4))
    assert(out.map(_.getAs[Long]("volume")).sum == 120L)
    // adaptive: mixed signs accumulate |theta| slower -> fewer closes
    val mixed = trades((0 until 12).map { i =>
      ("A", f"2024-01-01 00:${i}%02d:00", if (i % 2 == 0) 100.0 else 101.0, 10L)
    }: _*)
    val mixedBars = ImbalanceBars
      .tickImbalanceBars(mixed, initTicks = 4, initImbalance = 1.0, alpha = 0.0001)
      .collect()
    assert(mixedBars.length < 3)
  }

  test("range join pairs points within intervals only") {
    import graft.operators.RangeJoin
    val left = Seq(
      ("A", ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00"), 1L),
      ("A", ts("2024-01-01 05:00:00"), ts("2024-01-01 06:00:00"), 2L),
    ).toDF("sym", "start", "end", "iv")
    val right = Seq(
      ("A", ts("2024-01-01 00:00:00"), 10.0), // == start: excluded
      ("A", ts("2024-01-01 01:30:00"), 20.0),
      ("A", ts("2024-01-01 02:00:00"), 30.0), // == end: included
      ("A", ts("2024-01-01 03:00:00"), 40.0), // in no interval
      ("B", ts("2024-01-01 01:00:00"), 50.0), // wrong key
    ).toDF("sym", "p", "v")
    val out = RangeJoin
      .intervalJoin(left, right, Seq("sym"), "start", "end", "p", bucketMicros = 3600000000L)
      .select("iv", "v")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSet
    assert(out == Set((1L, 20.0), (1L, 30.0)))
  }

  test("rolling features match a hand computation") {
    import graft.operators.Rolling
    val df = trades(
      ("A", "2024-01-01 10:00:00", 10.0, 1L),
      ("A", "2024-01-01 10:30:00", 20.0, 3L),
      ("A", "2024-01-01 11:15:00", 30.0, 1L), // 10:00 tick now outside 1h window
    )
    val out = Rolling.features(df, "1 hour").orderBy("ts").collect()
    assert(out(1).getAs[Double]("rolling_vwap") == (10.0 + 60.0) / 4)
    assert(out(1).getAs[Long]("rolling_n") == 2)
    assert(out(2).getAs[Long]("rolling_n") == 2) // 10:30 and 11:15
    assert(out(2).getAs[Double]("rolling_min") == 20.0)
  }

  test("csv trade source round-trips the synthetic generator") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val t = graft.sources.TradeData.synthetic(spark, 100, 2)
    t.write.mode("overwrite").option("header", "true").csv(dir)
    val back = graft.sources.TradeData.fromCsv(spark, dir)
    assert(back.count() == 100)
    assert(back.agg(sum("size")).head.getLong(0) == t.agg(sum("size")).head.getLong(0))
    assert(back.schema("ts").dataType.typeName == "timestamp")
  }

  test("bet sizing: neutral at p=0.5, saturates with conviction, side-signed grid") {
    import graft.operators.BetSizing
    val d = Seq(
      (0L, 0.5, 1), (1L, 0.9, 1), (2L, 0.9, -1), (3L, 0.999, 1), (4L, 0.1, 1),
    ).toDF("event_id", "prob", "side")
    val out = BetSizing.betSize(d).orderBy("event_id")
      .select("bet_size", "bet_z").as[(Double, Double)].collect()
    assert(out(0)._1 == 0.0 && out(0)._2 == 0.0)
    assert(out(1)._1 >= 0.8 && out(1)._1 <= 1.0) // erf(0.943) ~ 0.8175 -> 0.8
    assert(out(2)._1 == -out(1)._1) // side flips the sign only
    assert(out(3)._1 == 1.0) // extreme conviction saturates the grid
    assert(out(4)._1 < 0.0) // p < 0.5 bets against the side
    // every size lands on the 0.1 grid
    out.foreach(r => assert(math.abs(r._1 * 10 - math.round(r._1 * 10)) < 1e-9))
    // erf sanity: odd symmetry and the A&S error bound at known points
    val erfs = spark.range(1).select(
      BetSizing.erfApprox(lit(0.0)), BetSizing.erfApprox(lit(1.0)), BetSizing.erfApprox(lit(-1.0)))
      .as[(Double, Double, Double)].head()
    assert(erfs._1 == 0.0)
    assert(math.abs(erfs._2 - 0.8427007929497149) < 1.5e-7)
    assert(erfs._3 == -erfs._2)
  }

  test("bet sizing: in-grid zero carries a positive sign bit for either side") {
    import graft.operators.BetSizing
    // p just under 0.5 with side=+1 (and just over with side=-1) puts
    // the raw size m in (-0.05, 0): round(m/0.1)*0.1 is a signed -0.0
    // in IEEE, which the +0.0 canonicalization must strip so the
    // byte-level oracle hash agrees across engines.
    val d = Seq((0L, 0.498, 1), (1L, 0.502, -1), (2L, 0.502, 1)).toDF("event_id", "prob", "side")
    val out = BetSizing.betSize(d).orderBy("event_id").select("bet_size").as[Double].collect()
    assert(java.lang.Double.doubleToRawLongBits(out(0)) == java.lang.Double.doubleToRawLongBits(0.0))
    assert(java.lang.Double.doubleToRawLongBits(out(1)) == java.lang.Double.doubleToRawLongBits(0.0))
    // and a positive in-grid-zero stays +0.0 too
    assert(java.lang.Double.doubleToRawLongBits(out(2)) == java.lang.Double.doubleToRawLongBits(0.0))
  }

  test("OrderedHead: (ord1, ord2) tiebreak, null-value carry, cross-partition merge") {
    import graft.functions.OrderedAgg
    // same ts for rows 1/2 -> trade_id breaks the tie; row 0 is the
    // earliest; 8 partitions force the merge path
    val d = Seq(
      ("a", 100L, 1L, 10.0), ("a", 200L, 5L, 20.0), ("a", 200L, 3L, 30.0),
      ("a", 300L, 9L, 40.0), ("b", 50L, 2L, 5.0),
    ).toDF("k", "ts", "tid", "p").repartition(8)
    val out = d
      .groupBy("k")
      .agg(
        OrderedAgg.firstByOrd(col("p"), col("ts"), col("tid")).as("first"),
        OrderedAgg.lastByOrd(col("p"), col("ts"), col("tid")).as("last"),
      )
      .orderBy("k")
      .as[(String, Double, Double)]
      .collect()
    assert(out(0) == (("a", 10.0, 40.0)))
    assert(out(1) == (("b", 5.0, 5.0)))
    // equal max-ts group: the larger trade_id wins last, smaller wins first
    val ties = Seq(("a", 200L, 5L, 20.0), ("a", 200L, 3L, 30.0))
      .toDF("k", "ts", "tid", "p").repartition(4)
      .groupBy("k")
      .agg(
        OrderedAgg.firstByOrd(col("p"), col("ts"), col("tid")).as("f"),
        OrderedAgg.lastByOrd(col("p"), col("ts"), col("tid")).as("l"),
      )
      .as[(String, Double, Double)]
      .head()
    assert(ties == (("a", 30.0, 20.0)))
    // a null VALUE at the winning ordering is carried (not skipped)
    val nv = Seq(("a", 1L, 1L, Option.empty[Double]), ("a", 2L, 2L, Some(7.0)))
      .toDF("k", "ts", "tid", "p")
      .groupBy("k")
      .agg(OrderedAgg.firstByOrd(col("p"), col("ts"), col("tid")).as("f"))
      .select("f")
      .as[Option[Double]]
      .head()
    assert(nv.isEmpty)
  }

  test("dynamic bet sizing: monotone in divergence, bounded, break-even limit prices") {
    import graft.operators.BetSizing
    val d = Seq(
      (0L, 100.0, 100.0), // flat: no divergence
      (1L, 100.0, 100.1), (2L, 100.0, 100.3), (3L, 100.0, 100.5),
      (4L, 100.0, 102.0), // far beyond calibration: saturated
      (5L, 100.0, 99.7), // short side
    ).toDF("event_id", "price", "forecast")
    val out = BetSizing
      .dynamicBetSize(d)
      .orderBy("event_id")
      .select("bet_m", "t_pos", "limit_price")
      .as[(Double, Long, Option[Double])]
      .collect()
    assert(out(0)._1 == 0.0 && out(0)._2 == 0L && out(0)._3.isEmpty)
    // size strictly increases with divergence, stays in (-1, 1)
    assert(out(1)._1 > 0 && out(2)._1 > out(1)._1 && out(3)._1 > out(2)._1 && out(4)._1 > out(3)._1)
    out.foreach(r => assert(math.abs(r._1) < 1.0))
    // calibration: x0=0.5 gives size exactly m0=0.95 up to FP
    assert(math.abs(out(3)._1 - 0.95) < 1e-12)
    assert(out(3)._2 == 95L)
    // saturation never exceeds maxPos
    assert(out(4)._2 <= 100L)
    // buys: limit below forecast and above price minus the full width;
    // the j=1 inverse price bounds the average from above
    val w = 0.5 * 0.5 * (1.0 / (0.95 * 0.95) - 1.0)
    def invPrice(f: Double, j: Int) = {
      val mj = j / 100.0; f - mj * math.sqrt(w / (1.0 - mj * mj))
    }
    for (i <- Seq(1, 2, 3, 4)) {
      val f = Seq(100.1, 100.3, 100.5, 102.0)(i - 1)
      val lp = out(i)._3.get
      assert(lp < f)
      assert(lp <= invPrice(f, 1) + 1e-12)
      assert(lp >= invPrice(f, out(i)._2.toInt) - 1e-12)
    }
    // shorts mirror: limit above forecast
    assert(out(5)._1 < 0 && out(5)._2 < 0 && out(5)._3.get > 99.7)
    // exact fold replication: average of invPrice over 1..t_pos
    val expect1 = (1 to out(1)._2.toInt).foldLeft(0.0)((a, j) => a + invPrice(100.1, j)) / out(1)._2
    assert(out(1)._3.get == expect1)
  }

  test("dynamic bet sizing: limit price only for position-extending orders") {
    import graft.operators.BetSizing
    val d = Seq(
      (0L, 100.0, 100.3, 5L), // long target beyond current long: extends
      (1L, 100.0, 100.3, 95L), // current already beyond target (87): no order
      (2L, 100.0, 100.3, -5L), // crossing from short: not one-sided
    ).toDF("event_id", "price", "forecast", "pos")
    val out = BetSizing
      .dynamicBetSize(d, posCol = Some("pos"))
      .orderBy("event_id")
      .select("t_pos", "limit_price")
      .as[(Long, Option[Double])]
      .collect()
    assert(out(0)._1 > 5L && out(0)._2.isDefined)
    assert(out(1)._2.isEmpty)
    assert(out(2)._2.isEmpty)
  }

  test("backtest PSR: bit-exact vs a first-principles reference; degenerate nulls") {
    import graft.operators.BacktestStats
    def ts(day: Int) = new java.sql.Timestamp(86400000L * (1 + day) + 3600000L)
    // one close per day: 100, 102, 101, 104, 103 -> 4 returns
    val closes = Seq(100.0, 102.0, 101.0, 104.0, 103.0)
    val t = closes.zipWithIndex
      .map { case (p, d) => ("S", ts(d), p, 1L, d.toLong) }
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val row = BacktestStats.psr(t).collect().head
    // reference: identical FP sequence (StrictMath.exp like Catalyst)
    val cents = closes.map(p => math.round(p * 100))
    val rs = cents.sliding(2).map { case Seq(a, b) => b.toDouble / a.toDouble - 1 }.toSeq
    val n = rs.size.toDouble
    val s1 = rs.foldLeft(0.0)(_ + _)
    val s2 = rs.foldLeft(0.0)((a, r) => a + r * r)
    val s3 = rs.foldLeft(0.0)((a, r) => a + r * r * r)
    val s4 = rs.foldLeft(0.0)((a, r) => a + r * r * r * r)
    val m = s1 / n
    val c2 = s2 / n - m * m
    val c3 = s3 / n - 3.0 * m * (s2 / n) + 2.0 * m * m * m
    val c4 = s4 / n - 4.0 * m * (s3 / n) + 6.0 * m * m * (s2 / n) - 3.0 * m * m * m * m
    val sd = math.sqrt(c2 * n / (n - 1.0))
    val sr = m / sd
    val skew = c3 / (c2 * math.sqrt(c2))
    val kurt = c4 / (c2 * c2)
    val den = 1.0 - skew * sr + (kurt - 1.0) / 4.0 * sr * sr
    val z = (sr - 0.0) * math.sqrt(n - 1.0) / math.sqrt(den)
    val x = z / math.sqrt(2.0)
    val sg = math.signum(x); val a = math.abs(x)
    val tt = 1.0 / (1.0 + 0.3275911 * a)
    val poly = tt * (0.254829592 + tt * (-0.284496736 + tt * (1.421413741 + tt * (-1.453152027 + tt * 1.061405429))))
    val erf = sg * (1.0 - poly * StrictMath.exp(-(a * a)))
    val psr = 0.5 * (1.0 + erf)
    assert(row.getAs[Long]("n_days") == 4L)
    assert(java.lang.Double.doubleToLongBits(row.getAs[Double]("sharpe")) == java.lang.Double.doubleToLongBits(sr))
    assert(java.lang.Double.doubleToLongBits(row.getAs[Double]("psr")) == java.lang.Double.doubleToLongBits(psr))
    // constant closes: zero variance -> null stats
    val flat = (0 until 5).map(d => ("F", ts(d), 50.0, 1L, d.toLong))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val f = BacktestStats.psr(flat).collect().head
    assert(f.isNullAt(f.fieldIndex("psr")) && f.isNullAt(f.fieldIndex("sharpe")))
  }

  test("deflated SR: probit sanity, deflation below PSR on real trials") {
    import graft.operators.BacktestStats
    val p = spark.range(1).select(
      BacktestStats.probitApprox(lit(0.5)),
      BacktestStats.probitApprox(lit(0.975)),
      BacktestStats.probitApprox(lit(0.025)),
      BacktestStats.probitApprox(lit(0.001)),
    ).as[(Double, Double, Double, Double)].head()
    assert(p._1 == 0.0)
    assert(math.abs(p._2 - 1.9599639845400545) < 1e-8)
    assert(math.abs(p._3 + 1.9599639845400545) < 1e-8)
    assert(math.abs(p._4 + 3.090232306167814) < 1e-7) // lower tail branch
    // real trades: every symbol's DSR must sit at or below its PSR
    // (a positive SR* can only deflate the probability)
    val trades = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val psr = BacktestStats.psr(trades).select(col("symbol"), col("psr"))
    val dsr = BacktestStats.dsr(trades).select(col("symbol"), col("dsr"), col("sr_star"))
    val j = psr.join(dsr, "symbol").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      if (!r.isNullAt(1) && !r.isNullAt(2)) {
        assert(r.getDouble(3) > 0.0) // sr_star positive on this trial set
        assert(r.getDouble(2) <= r.getDouble(1))
      }
    }
  }

  test("max drawdown: hand-computed peak-to-trough; zero on monotone rise") {
    import graft.operators.BacktestStats
    def ts(day: Int) = new java.sql.Timestamp(86400000L * (1 + day) + 3600000L)
    // closes 100, 120, 90, 110: deepest = (120-90)/120 = 0.25
    val t = Seq(100.0, 120.0, 90.0, 110.0).zipWithIndex
      .map { case (p, d) => ("S", ts(d), p, 1L, d.toLong) }
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val r = BacktestStats.maxDrawdown(t).collect().head
    assert(r.getAs[Long]("n_days") == 4L)
    assert(r.getAs[Double]("max_drawdown") == 3000.0 / 12000.0)
    val up = Seq(1.0, 2.0, 3.0).zipWithIndex
      .map { case (p, d) => ("U", ts(d), p, 1L, d.toLong) }
      .toDF("symbol", "ts", "price", "size", "trade_id")
    assert(BacktestStats.maxDrawdown(up).collect().head.getAs[Double]("max_drawdown") == 0.0)
  }

  test("spearman IC: +1 on monotone, -1 on reversed, exact hand value on a swap") {
    import graft.operators.FeatureIc
    def df(pairs: (Double, Double)*) = pairs.zipWithIndex
      .map { case ((f, t), i) => ("X", f, t, i.toLong) }
      .toDF("symbol", "f", "t", "trade_id")
    def ic(d: org.apache.spark.sql.DataFrame) =
      FeatureIc.spearmanIc(d, "f", "t").select("ic").as[Double].head()
    assert(ic(df((1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0))) == 1.0)
    assert(ic(df((1.0, 40.0), (2.0, 30.0), (3.0, 20.0), (4.0, 10.0))) == -1.0)
    // one adjacent swap in n=4: sum d^2 = 2 -> 1 - 12/60 = 0.8
    assert(ic(df((1.0, 20.0), (2.0, 10.0), (3.0, 30.0), (4.0, 40.0))) == 0.8)
    // n = 1: undefined
    val one = FeatureIc.spearmanIc(df((1.0, 1.0)), "f", "t").collect().head
    assert(one.isNullAt(one.fieldIndex("ic")))
  }

  test("avg active bets: concurrent intervals average, disjoint stand alone") {
    import graft.operators.BetSizing
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // bets 0 and 1 overlap at t0(1); bet 2 is far away
    val bets = Seq(
      (0L, ts(0L), ts(10L), 1.0),
      (1L, ts(5L), ts(15L), 0.5),
      (2L, ts(100L), ts(110L), -1.0),
    ).toDF("event_id", "t0", "t1", "bet_size")
    val out = BetSizing.avgActiveBets(bets, bucketMicros = 600000000L)
      .orderBy("event_id")
      .select("event_id", "n_active", "avg_bet")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((0L, 1L, 1.0), (1L, 2L, 0.75), (2L, 1L, -1.0)))
  }

  test("orc trade source round-trips the synthetic generator exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val t = graft.sources.TradeData.synthetic(spark, 100, 2)
    t.write.mode("overwrite").orc(dir)
    val back = graft.sources.TradeData.fromOrc(spark, dir)
    // ORC reads columns back nullable; names and types must match
    assert(back.schema.map(f => (f.name, f.dataType)) == t.schema.map(f => (f.name, f.dataType)))
    // columnar round-trip is lossless: full multiset equality
    assert(back.exceptAll(t).count() == 0 && t.exceptAll(back).count() == 0)
    // and the pushdown surface is live: a price filter reaches the scan
    val p = back.where(col("price") > 50.0).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(price"), p)
  }

  // --- EWM std against pandas-computed vectors ---
  test("ewm std matches pandas ewm(span=3).std() vector") {
    // pandas: s = [1, 2, 4, 8]; s.ewm(span=3, adjust=True).std()
    // (first obs: pandas NaN, polars/ours 0.0)
    val df = Seq(1.0, 2.0, 4.0, 8.0).zipWithIndex
      .map { case (v, i) => ("A", i.toLong, v) }
      .toDF("g", "i", "x")
    val out = Ewm
      .stdOverKey(df, Seq("g"), Seq("i"), "x", span = 3, outCol = "s")
      .orderBy("i")
      .collect()
      .map(_.getAs[Double]("s"))
    val exp = Seq(0.0, 0.7071067811865476, 1.5811388300841898, 3.3273756282434617)
    out.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9, s"$g vs $e") }
  }

  test("triple barrier labels profit-take, stop-loss and vertical cases") {
    val df = trades(
      ("A", "2021-01-01 00:00:00", 100.0, 1L),
      ("A", "2021-01-01 00:10:00", 103.0, 1L), // +3% >= 2% -> pt for event 1
      ("A", "2021-01-01 00:20:00", 96.0, 1L),  // -6.8% from 103 -> sl for event 2
      ("A", "2021-01-01 00:30:00", 96.5, 1L),
    )
    val out = Labels
      .tripleBarrier(df, horizon = "1 hours", constTarget = Some(0.02))
      .orderBy("ts")
      .collect()
    assert(out(0).getAs[Int]("label") == 1)  // 100 -> 103 hits +2%
    assert(out(1).getAs[Int]("label") == -1) // 103 -> 96 hits -2%
    assert(out(2).getAs[Int]("label") == 0)  // 96 -> 96.5 inside barriers
  }

  // --- chunked FFD must be BIT-identical to the window form (same
  // lags, same weight literals, same addition order) ---
  test("chunked frac_diff is bit-identical to the window formulation") {
    val rnd = new scala.util.Random(9)
    val t0 = java.time.Instant.parse("2021-01-01T00:00:00Z")
    val rows = (0 until 600).map { i =>
      val sym = if (i % 2 == 0) "A" else "B"
      (sym, java.sql.Timestamp.from(t0.plusSeconds(i * 1800L)), 1.0 + rnd.nextInt(9999) / 100.0, 1L, i.toLong)
    }
    val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
    val win = df
      .select(
        $"symbol", $"ts",
        FracDiff.fracDiff($"price", 0.5, 1e-3, Seq($"symbol"), Seq($"ts", $"trade_id")).as("fd"),
      )
      .orderBy("symbol", "ts")
      .collect()
    val chunked = FracDiff
      .fracDiffChunked(df, "price", 0.5, 1e-3, "symbol", to_date($"ts"), Seq("ts", "trade_id"), "fd")
      .select($"symbol", $"ts", $"fd")
      .orderBy("symbol", "ts")
      .collect()
    assert(win.length == chunked.length && win.nonEmpty)
    win.zip(chunked).foreach { case (w, c) =>
      assert(w.getTimestamp(1) == c.getTimestamp(1))
      (w.isNullAt(2), c.isNullAt(2)) match {
        case (true, true) => ()
        case (false, false) =>
          // bit-identical, not approximately equal
          assert(
            java.lang.Double.doubleToLongBits(w.getDouble(2)) ==
              java.lang.Double.doubleToLongBits(c.getDouble(2)),
            s"${w.getDouble(2)} vs ${c.getDouble(2)} at ${w.getTimestamp(1)}",
          )
        case _ => fail(s"null mismatch at ${w.getTimestamp(1)}")
      }
    }
  }

  // --- rolling features: the halo-chunked deque scan must equal the
  // RANGE-frame formulation, including across midnight boundaries ---
  test("rolling deque scan equals RANGE windows across day boundaries") {
    val rnd = new scala.util.Random(5)
    val t0 = java.time.Instant.parse("2021-01-01T00:00:00Z")
    val rows = (0 until 400).map { i =>
      val sym = if (i % 2 == 0) "A" else "B"
      // ~11-minute spacing: windows span midnight repeatedly
      (sym, java.sql.Timestamp.from(t0.plusSeconds(i * 660L)), 1.0 + rnd.nextInt(9999) / 100.0, (rnd.nextInt(50) + 1).toLong, i.toLong)
    }
    val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
    val scan = operators.Rolling
      .features(df, "1 hour")
      .orderBy("symbol", "ts")
      .collect()
    val win = operators.Rolling
      .featuresDeclarative(df, "1 hour")
      .orderBy("symbol", "ts")
      .collect()
    assert(scan.length == win.length && scan.nonEmpty)
    scan.zip(win).foreach { case (s, w) =>
      assert(s.getAs[Long]("rolling_n") == w.getAs[Long]("rolling_n"), s"n at ${s.getAs[Any]("ts")}")
      assert(s.getAs[Double]("rolling_min") == w.getAs[Double]("rolling_min"))
      assert(s.getAs[Double]("rolling_max") == w.getAs[Double]("rolling_max"))
      // bit-identical, not approximately equal: both paths accumulate
      // exact Long cents and divide once per emitted row
      assert(
        java.lang.Double.doubleToLongBits(s.getAs[Double]("rolling_vwap")) ==
          java.lang.Double.doubleToLongBits(w.getAs[Double]("rolling_vwap")),
        s"vwap ${s.getAs[Double]("rolling_vwap")} vs ${w.getAs[Double]("rolling_vwap")} at ${s.getAs[Any]("ts")}",
      )
      assert(
        java.lang.Double.doubleToLongBits(s.getAs[Double]("rolling_mean_price")) ==
          java.lang.Double.doubleToLongBits(w.getAs[Double]("rolling_mean_price")),
        s"mean ${s.getAs[Double]("rolling_mean_price")} vs ${w.getAs[Double]("rolling_mean_price")} at ${s.getAs[Any]("ts")}",
      )
    }
  }

  // --- hot-symbol skew: one symbol carrying ~90% of rows over five
  // days. The scan runs per symbol, so HOT is one task; it stays
  // bit-exact against RANGE frames across every day edge ---
  test("rolling scan survives hot-symbol skew with per-day parallelism") {
    val rnd = new scala.util.Random(11)
    val t0 = java.time.Instant.parse("2021-03-01T00:00:00Z")
    val nDays = 5
    val rows = (0 until 2000).map { i =>
      // 90% of ticks on HOT, spread over 5 days; ties on purpose
      val sym = if (i % 10 != 0) "HOT" else s"C${i % 4}"
      val ts = java.sql.Timestamp.from(t0.plusSeconds((i / 2) * (nDays * 86400L / 1000)))
      (sym, ts, 1.0 + rnd.nextInt(9999) / 100.0, (rnd.nextInt(50) + 1).toLong, i.toLong)
    }
    val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
    // the hot symbol really does split into one chunk per day
    val hotChunks = df
      .where($"symbol" === "HOT")
      .select(date_trunc("DAY", $"ts"))
      .distinct()
      .count()
    assert(hotChunks == nDays.toLong, s"expected $nDays day-chunks for HOT, got $hotChunks")
    val scan = operators.Rolling.features(df, "1 hour").orderBy("symbol", "ts", "trade_id").collect()
    val win = operators.Rolling.featuresDeclarative(df, "1 hour").orderBy("symbol", "ts", "trade_id").collect()
    assert(scan.length == win.length && scan.nonEmpty)
    scan.zip(win).foreach { case (s, w) =>
      assert(s.getAs[Long]("rolling_n") == w.getAs[Long]("rolling_n"))
      assert(
        java.lang.Double.doubleToLongBits(s.getAs[Double]("rolling_vwap")) ==
          java.lang.Double.doubleToLongBits(w.getAs[Double]("rolling_vwap")),
        s"vwap at ${s.getAs[Any]("ts")}",
      )
    }
  }

  // --- dollar imbalance bars (AFML 2.3.2.2, alpha=0): theta in exact
  // cents, bar closes when |theta| reaches ticks*dollars*100 ---
  test("dollar imbalance bars close on signed dollar flow") {
    // sign: first tick +, then down, down, up; cents = price*100*size
    val df = trades(
      ("A", "2021-01-01 00:00:00", 10.0, 1L), // +1000c, theta 1000
      ("A", "2021-01-01 00:01:00", 9.0, 2L),  // -1800c, theta -800
      ("A", "2021-01-01 00:02:00", 8.0, 3L),  // -2400c, theta -3200 -> |.| >= 3000 close
      ("A", "2021-01-01 00:03:00", 9.0, 1L),  // +900 (partial, not emitted)
    )
    val out = operators.ImbalanceBars
      .dollarImbalanceBars(df, initTicks = 10.0, initDollarImbalance = 3.0, alpha = 0.0)
      .collect() // threshold = 10 * 3.0 * 100 = 3000 cents
    assert(out.length == 1)
    assert(out.head.getAs[Long]("theta") == -3200L)
    assert(out.head.getAs[Long]("n_trades") == 3L && out.head.getAs[Long]("volume") == 6L)
  }

  // --- volume imbalance bars: theta in shares ---
  test("volume imbalance bars close on signed size flow") {
    val df = trades(
      ("A", "2021-01-01 00:00:00", 10.0, 3L), // + -> theta 3
      ("A", "2021-01-01 00:01:00", 9.0, 4L),  // - -> theta -1
      ("A", "2021-01-01 00:02:00", 8.0, 8L),  // - -> theta -9 -> |.| >= 8 close
      ("A", "2021-01-01 00:03:00", 9.0, 1L),  // partial
    )
    val out = operators.ImbalanceBars
      .volumeImbalanceBars(df, initTicks = 4.0, initVolumeImbalance = 2.0, alpha = 0.0)
      .collect() // threshold = 4 * 2 = 8
    assert(out.length == 1)
    assert(out.head.getAs[Long]("theta") == -9L && out.head.getAs[Long]("volume") == 15L)
  }

  // --- tick run bars (AFML 2.3.2.3, alpha=0): close when either
  // directional run reaches ticks*pMax ---
  test("tick run bars close on one-sided runs and report both counts") {
    val df = trades(
      ("A", "2021-01-01 00:00:00", 10.0, 1L), // + (initial)
      ("A", "2021-01-01 00:01:00", 11.0, 1L), // +
      ("A", "2021-01-01 00:02:00", 10.5, 1L), // -
      ("A", "2021-01-01 00:03:00", 11.5, 1L), // + -> up=3 >= 4*0.75=3 close
      ("A", "2021-01-01 00:04:00", 12.0, 1L), // partial
    )
    val out = operators.ImbalanceBars
      .tickRunBars(df, initTicks = 4.0, initPmax = 0.75, alpha = 0.0)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("up_ticks") == 3L && out.head.getAs[Long]("down_ticks") == 1L)
    assert(out.head.getAs[Long]("n_trades") == 4L)
  }

  // --- single-frame parity: reference labels take symbol=None
  // (labels.py:35) — a frame without the symbol column is one
  // instrument ---
  test("labels work on a single frame without a symbol column") {
    val df = Seq(
      (ts("2021-01-01 00:00:00"), 100.0),
      (ts("2021-01-01 01:00:00"), 110.0),
      (ts("2021-01-01 02:00:00"), 121.0),
    ).toDF("ts", "price") // no symbol, no trade_id
    val fwd = Labels.fixedTimeReturn(df, window = 1, offset = 0).orderBy("ts").collect()
    assert(!fwd.head.schema.fieldNames.contains("symbol"))
    assert(math.abs(fwd(0).getAs[Double]("fwd_return") - 0.10) < 1e-12)
    val vb = Labels.verticalBarrier(df, "1 hours").orderBy("ts").collect()
    assert(vb(0).getAs[java.sql.Timestamp]("vertical_barrier") == ts("2021-01-01 01:00:00"))
    val r24 = Labels.returns24h(df, "1 hours").orderBy("ts").collect()
    assert(math.abs(r24(1).getAs[Double]("return24h") - 0.10) < 1e-12)
    val tb = Labels.tripleBarrier(df, horizon = "3 hours", constTarget = Some(0.05)).collect()
    assert(tb.nonEmpty && !tb.head.schema.fieldNames.contains("symbol"))
  }

  // --- OHLC output column config (config.py renames outputs too) ---
  test("bar outputs honor configured OHLC column names") {
    val c = TradingCols(open = "o", high = "h", low = "l", close = "cl")
    val df = trades(
      ("A", "2021-01-01 00:00:00", 3.0, 5L),
      ("A", "2021-01-01 00:30:00", 4.0, 5L),
    )
    val out = Bars.timeBars(df, "1 hour", c).collect()
    assert(out.head.schema.fieldNames.toSet.intersect(Set("o", "h", "l", "cl")).size == 4)
    assert(out.head.getAs[Double]("o") == 3.0 && out.head.getAs[Double]("cl") == 4.0)
  }

  // --- degenerate-price policy: operators must not abort on a zero
  // price (Spark 4 ANSI mode would raise DIVIDE_BY_ZERO); returns
  // against a zero price propagate null, zero-cent ticks contribute
  // no dollar value ---
  test("zero-price ticks do not crash returns, labels, or dollar bars") {
    val df = trades(
      ("A", "2021-01-01 00:00:00", 0.0, 5L), // degenerate tick
      ("A", "2021-01-01 01:00:00", 10.0, 5L),
      ("A", "2021-01-02 00:30:00", 11.0, 5L), // 24h lookback hits the zero tick
      ("A", "2021-01-02 03:00:00", 12.0, 5L),
    )
    val rets = Labels.returns24h(df).orderBy("ts").collect()
    assert(rets.length == 4)
    // ts=01-02 00:30 as-of (lookback 01-01 00:30) matches the 00:00
    // zero-price tick -> null return
    assert(rets(2).getAs[Double]("lookback_price") == 0.0)
    assert(rets(2).isNullAt(rets(2).fieldIndex("return24h")))
    val fwd = Labels.fixedTimeReturn(df, window = 1, offset = 0).orderBy("ts").collect()
    assert(fwd(0).isNullAt(fwd(0).fieldIndex("fwd_return"))) // 10/0 -> null
    val vol = Labels.dailyVol(df, span = 10).collect()
    assert(vol.length == 4) // EWM scan runs, null returns decay weights
    val bars = Bars.dollarBars(df, barSize = 100.0).collect()
    // zero-cent tick skipped: 5+5 units of $10..11 -> $50, $105... bars form
    assert(bars.map(_.getAs[Long]("volume")).sum == 15L)
    val tb = Labels.tripleBarrier(df, horizon = "48 hours", constTarget = Some(0.05)).collect()
    assert(tb.nonEmpty) // path returns against price=0 are null, not fatal
  }

  test("uniqueness weights: overlapping labels share concurrency (hand-computed)") {
    import org.apache.spark.sql.functions._
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    val trades = (0L to 5L)
      .map(i => ("X", ts(i), 10.0, 1L, i))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val events = Seq(
      ("X", ts(0L), ts(2L), 100L), // covers ticks 0,1,2
      ("X", ts(2L), ts(4L), 200L), // covers ticks 2,3,4
    ).toDF("symbol", "t0", "t1", "event_id")
    val w = Labels.uniquenessWeights(trades, events)
      .orderBy("event_id")
      .select("event_id", "avg_uniqueness", "n_ticks")
      .as[(Long, Double, Long)].collect().toSeq
    // tick 2 is shared (c=2): each event averages (1 + 1 + 1/2) / 3
    assert(w.map(_._1) == Seq(100L, 200L))
    assert(w.forall(_._3 == 3L))
    assert(w.forall(r => math.abs(r._2 - 2.5 / 3.0) < 1e-15))
    // disjoint events are fully unique
    val solo = Labels.uniquenessWeights(
      trades,
      Seq(("X", ts(0L), ts(1L), 7L)).toDF("symbol", "t0", "t1", "event_id"),
    ).select("avg_uniqueness").as[Double].head()
    assert(solo == 1.0)
  }

  test("time-decay weights: hand-computed line over cumulative uniqueness") {
    import org.apache.spark.sql.functions._
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // 4 disjoint single-tick events -> avg uniqueness 1 each, x = 1..4
    val trades = (0L to 3L)
      .map(i => ("X", ts(i * 10), 10.0, 1L, i))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val events = (0L to 3L)
      .map(i => ("X", ts(i * 10), ts(i * 10 + 1), i * 100L))
      .toDF("symbol", "t0", "t1", "event_id")
    // lastWeight 0.5: slope = 0.5/4, weights 0.625, 0.75, 0.875, 1.0
    val w = Labels.timeDecayWeights(trades, events, lastWeight = 0.5)
      .orderBy("event_id").select("decay_weight").as[Double].collect().toSeq
    assert(w == Seq(0.625, 0.75, 0.875, 1.0))
    // negative lastWeight -0.5: oldest half of information time zeroed
    val wNeg = Labels.timeDecayWeights(trades, events, lastWeight = -0.5)
      .orderBy("event_id").select("decay_weight").as[Double].collect().toSeq
    assert(wNeg == Seq(0.0, 0.0, 0.5, 1.0))
    // lastWeight 1.0: no decay
    val wFlat = Labels.timeDecayWeights(trades, events, lastWeight = 1.0)
      .orderBy("event_id").select("decay_weight").as[Double].collect().toSeq
    assert(wFlat == Seq(1.0, 1.0, 1.0, 1.0))
  }

  test("weight scans == pair-materializing twins (bit-exact within a day)") {
    import org.apache.spark.sql.functions._
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val ev = t
      .where(col("trade_id") % 50 === 0)
      .select(
        col("symbol"),
        col("ts").as("t0"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("t1"),
        col("trade_id").as("event_id"),
      )
    val sameDay = unix_micros(col("t0")) / lit(86400000000L) === unix_micros(col("t1")) / lit(86400000000L)
    for ((name, scan, pairsForm) <- Seq(
        ("uniqueness",
         Labels.uniquenessWeights(t, ev),
         WeightPairsReference.uniquenessWeights(t, ev)),
        ("attribution",
         Labels.returnAttribution(t, ev),
         WeightPairsReference.returnAttribution(t, ev)),
      )) {
      val got = scan.orderBy("symbol", "event_id").collect()
      val want = pairsForm.orderBy("symbol", "event_id").collect()
      assert(got.length == want.length && got.nonEmpty, s"$name row count")
      // which events sit inside one day (bit-exact contract)?
      val oneDay = ev
        .select(col("event_id"), sameDay.as("sd"))
        .collect()
        .map(r => r.getLong(0) -> r.getBoolean(1))
        .toMap
      got.zip(want).foreach { case (g, w) =>
        assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1), s"$name keys")
        assert(g.getLong(3) == w.getLong(3), s"$name n_ticks of event ${g.getLong(1)}")
        val (a, b) = (g.getDouble(2), w.getDouble(2))
        if (oneDay(g.getLong(1))) {
          assert(
            java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
            s"$name event ${g.getLong(1)} (single-day): $a vs $b",
          )
        } else {
          // straddlers: regrouped fold tree — equal to 1 ulp-ish
          assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)),
            s"$name event ${g.getLong(1)} (straddler): $a vs $b")
        }
      }
    }
  }

  test("meta-label: 1 iff the primary side captured the touch return") {
    import org.apache.spark.sql.functions._
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    val tb = Seq(
      ("X", ts(0L), 0.02, ts(60L), ts(10L), 0.03, 1),  // up move
      ("X", ts(1L), 0.02, ts(61L), ts(12L), -0.025, -1), // down move
    ).toDF("symbol", "ts", "trgt", "t1", "touch_ts", "touch_return", "label")
    val sides = Seq(("X", ts(0L), 1), ("X", ts(1L), 1)).toDF("symbol", "ts", "side")
    val out = Labels.metaLabel(tb, sides)
      .orderBy("ts").select("meta_label").as[Int].collect().toSeq
    // long side: profits on the up move, loses on the down move
    assert(out == Seq(1, 0))
    val short = Labels.metaLabel(tb, sides.withColumn("side", lit(-1)))
      .orderBy("ts").select("meta_label").as[Int].collect().toSeq
    assert(short == Seq(0, 1))
  }

  test("microstructure: Roll spread on a pure bid-ask bounce, Kyle lambda on a linear impact line") {
    import graft.operators.Microstructure
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // alternating 100.00 / 100.02: cov(d, dprev) = -4 cents^2 -> spread = 2*2 cents
    val bounce = (0 until 6)
      .map(i => ("B", ts(i.toLong), if (i % 2 == 0) 100.00 else 100.02, 1L, i.toLong))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val rb = Microstructure.features(bounce).collect().head
    assert(math.abs(rb.getAs[Double]("roll_spread") - 0.04) < 1e-12)
    // exact linear impact d = 2 cents * signed shares -> lambda = 2
    val line = Seq(
      ("K", ts(0L), 100.00, 1L, 0L),
      ("K", ts(1L), 100.20, 10L, 1L), // d=+20, sv=+10
      ("K", ts(2L), 100.10, 5L, 2L), // d=-10, sv=-5
      ("K", ts(3L), 100.50, 20L, 3L), // d=+40, sv=+20
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val kl = Microstructure.features(line).collect().head
    assert(kl.getAs[Double]("kyle_lambda") == 2.0)
  }

  test("amihud illiquidity: hand-computed daily |return| per dollar traded") {
    import graft.operators.Microstructure
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // open 100.00, close 102.00 -> |ret| = 0.02; dollar volume =
    // 100*10 + 101*10 + 102*10 = 3030 dollars; amihud = 1e6*0.02/3030
    val t = Seq(
      ("A", ts(0L), 100.00, 10L, 0L),
      ("A", ts(1L), 101.00, 10L, 1L),
      ("A", ts(2L), 102.00, 10L, 2L),
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val r = Microstructure.amihud(t).collect().head
    assert(r.getAs[Long]("n_ticks") == 3L)
    // fused form: |dpc|*1e8 / (open_pc * dv_cents) = 200*1e8 / (10000 * 303000)
    assert(r.getAs[Double]("amihud_illiq") == 200.0 * 1e8 / (10000.0 * 303000.0))
    // same-timestamp ticks break ties by trade_id for open/close
    val tie = Seq(
      ("B", ts(0L), 50.00, 1L, 7L),
      ("B", ts(0L), 60.00, 1L, 3L), // earlier trade_id -> open
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val rt = Microstructure.amihud(tie).collect().head
    assert(rt.getAs[Double]("amihud_illiq") == 1000.0 * 1e8 / (6000.0 * 11000.0))
  }

  test("ou half-life: exact beta -0.5 gives one-step half-life; non-reverting days null") {
    import graft.operators.Microstructure
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // geometric reversion toward 100 with factor 1/2: d = -0.5 * x-offset
    // integer moments give beta = -17500/35000 = -0.5 EXACTLY
    val rev = Seq(102.00, 101.00, 100.50, 100.25).zipWithIndex.map { case (p, i) =>
      ("R", ts(i.toLong), p, 1L, i.toLong)
    }.toDF("symbol", "ts", "price", "size", "trade_id")
    val r = Microstructure.ouHalfLife(rev).collect().head
    assert(r.getAs[Double]("ou_beta") == -0.5)
    assert(math.abs(r.getAs[Double]("ou_half_life") - 1.0) < 1e-12)
    // monotone trend (beta >= 0 side): no half-life
    val up = (0 until 4)
      .map(i => ("U", ts(i.toLong), 100.0 + i, 1L, i.toLong))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val u = Microstructure.ouHalfLife(up).collect().head
    assert(u.isNullAt(u.fieldIndex("ou_half_life")))
  }

  test("hasbrouck lambda: hand-computed through-origin slope on signed sqrt dollar flow") {
    import graft.operators.Microstructure
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    val t = Seq(
      ("H", ts(0L), 100.00, 4L, 0L), // d null
      ("H", ts(1L), 100.02, 2L, 1L), // d=+2 -> sgn +1
      ("H", ts(2L), 100.01, 9L, 2L), // d=-1 -> sgn -1
      ("H", ts(3L), 100.05, 5L, 3L), // d=+4 -> sgn +1
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    // replay the definition: x = sgn * round(100*sqrt(cent-dollars))
    def q(pc: Long, size: Long) = math.round(math.sqrt((pc * size).toDouble) * 100.0)
    val xs = Seq((1L, q(10002L, 2L), 2L), (-1L, q(10001L, 9L), -1L), (1L, q(10005L, 5L), 4L))
    val sxy = xs.map { case (s, x, d) => s * x * d }.sum
    val sxx = xs.map { case (_, x, _) => x * x }.sum
    val r = Microstructure.hasbrouck(t).collect().head
    assert(r.getAs[Long]("n_deltas") == 3L)
    assert(r.getAs[Double]("hasbrouck_lambda") == 100.0 * sxy.toDouble / sxx.toDouble)
    // buy pressure moving price up => positive impact coefficient
    assert(r.getAs[Double]("hasbrouck_lambda") > 0.0)
    // single-tick day: no deltas -> null lambda
    val one = Seq(("S", ts(0L), 10.0, 1L, 0L)).toDF("symbol", "ts", "price", "size", "trade_id")
    val o = Microstructure.hasbrouck(one).collect().head
    assert(o.getAs[Long]("n_deltas") == 0L)
    assert(o.isNullAt(o.fieldIndex("hasbrouck_lambda")))
  }

  test("otr grid: deterministic OU sweep; zero-vol path is exact; positive forecast pays") {
    import graft.operators.OptimalRules
    val g = OptimalRules.otrGrid(spark, e0 = 100.5, nPaths = 300, maxHold = 50)
      .orderBy("pt_mult", "sl_mult")
      .collect()
    assert(g.length == 16 && g.forall(_.getAs[Long]("n_paths") == 300L))
    // reverting toward a level above entry: the best cell is profitable
    val bestSharpe = g.flatMap(r => Option(r.getAs[java.lang.Double]("sharpe")).map(_.toDouble)).max
    val best = g.filter(r => Option(r.getAs[java.lang.Double]("sharpe")).exists(_ == bestSharpe)).head
    assert(best.getAs[Double]("mean_ret") > 0.0)
    // pure function of the parameters: bit-equal rerun
    val g2 = OptimalRules.otrGrid(spark, e0 = 100.5, nPaths = 300, maxHold = 50)
      .orderBy("pt_mult", "sl_mult")
      .collect()
    assert(g.map(_.toSeq).toSeq == g2.map(_.toSeq).toSeq)
    // sigma = 0: the deterministic path climbs toward e0; every path
    // is identical -> std 0, null sharpe, and the mean replays the
    // closed-form cumulative P&L scan exactly
    val z = OptimalRules.otrGrid(spark, e0 = 100.5, sigma = 0.0, nPaths = 7, maxHold = 50,
      ptMults = Seq(1.0), slMults = Seq(1.0)).collect().head
    assert(z.getAs[Double]("std_ret") == 0.0)
    assert(z.isNullAt(z.fieldIndex("sharpe")))
    // thresholds are 0 at sigma = 0, so cp(0) >= 0 exits immediately:
    // the trade pockets exactly the first-step climb toward e0
    val phi = StrictMath.pow(2.0, -1.0 / 10.0)
    val p1 = (1.0 - phi) * 100.5 + phi * 100.0
    assert(z.getAs[Double]("mean_ret") == p1 - 100.0)
  }

  test("seq bootstrap: definition replay, uniqueness-driven tilt toward disjoint events, determinism") {
    import graft.operators.SeqBootstrap
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // A and B share one bucket-span exactly; C is disjoint
    val ev = Seq(
      ("X", ts(0L), ts(9L), 1L),
      ("X", ts(0L), ts(9L), 2L),
      ("X", ts(100L), ts(109L), 3L),
    ).toDF("symbol", "t0", "t1", "event_id")
    val k = 300
    val out = SeqBootstrap.sample(ev, k = k, bucketUs = 600000000L)
      .orderBy("draw").as[(Long, Long, Double)].collect()
    assert(out.length == k && out.map(_._1).toSeq == (0L until k.toLong))
    // replay the definition independently (same md5 uniforms)
    val spans = Seq(1L -> (0L to 0L), 2L -> (0L to 0L), 3L -> (10L to 10L))
    val conc = scala.collection.mutable.HashMap.empty[Long, Int]
    val digest = java.security.MessageDigest.getInstance("MD5")
    val expect = (0 until k).map { d =>
      val u = spans.map { case (_, span) =>
        span.map(b => 1.0 / (1.0 + conc.getOrElse(b, 0))).sum / span.size.toDouble
      }
      val hex = digest.digest(s"seqboot:$d".getBytes("UTF-8"))
        .take(4).map(x => f"${x & 0xff}%02x").mkString
      val uni = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
      val target = uni * u.sum
      var acc = 0.0; var pick = 0; var i = 0
      while (i < 3 && { acc += u(i); acc < target }) { pick = i + 1; i += 1 }
      if (pick >= 3) pick = 2
      val span = spans(pick)._2
      span.foreach(b => conc(b) = conc.getOrElse(b, 0) + 1)
      (d.toLong, spans(pick)._1, u(pick))
    }
    assert(out.toSeq == expect)
    // the disjoint event is over-sampled relative to either clone
    val counts = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(counts(3L) > counts(1L) && counts(3L) > counts(2L),
      s"expected uniqueness tilt, got $counts")
    // deterministic repeat
    val again = SeqBootstrap.sample(ev, k = k, bucketUs = 600000000L)
      .orderBy("draw").as[(Long, Long, Double)].collect()
    assert(again.toSeq == out.toSeq)
  }

  test("pbo: complementary block winners give PBO 1, a uniformly dominant strategy gives PBO 0") {
    import graft.operators.BacktestStats
    def ts(day: Int) = new java.sql.Timestamp(86400000L * day)
    // 5 days -> nBlocks=2 blocks {d1,d2,d3}, {d4,d5}; returns attach
    // to d2..d5. A wins block 0 and loses block 1; B mirrors ->
    // every IS winner is the OOS loser -> PBO = 1, both logits < 0
    val pa = Seq(100.00, 101.00, 102.21, 101.19, 99.98)
    val pb = Seq(100.00, 99.00, 97.81, 98.79, 99.98)
    val flip = (1 to 5).flatMap { d =>
      Seq(
        ("A", ts(d), pa(d - 1), 1L, d.toLong * 10),
        ("B", ts(d), pb(d - 1), 1L, d.toLong * 10 + 1),
      )
    }.toDF("symbol", "ts", "price", "size", "trade_id")
    val r1 = BacktestStats.pbo(flip, nBlocks = 2).collect().head
    assert(r1.getAs[Long]("n_strategies") == 2L && r1.getAs[Long]("n_combos") == 2L)
    assert(r1.getAs[Double]("pbo") == 1.0)
    assert(r1.getAs[Double]("mean_logit") < 0.0)
    // A strictly up every day (varying steps), B strictly down ->
    // best IS is always best OOS -> PBO = 0
    val upA = Seq(100.00, 101.00, 102.20, 103.10, 104.40)
    val dnB = Seq(100.00, 99.00, 97.90, 96.95, 95.70)
    val dom = (1 to 5).flatMap { d =>
      Seq(
        ("A", ts(d), upA(d - 1), 1L, d.toLong * 10),
        ("B", ts(d), dnB(d - 1), 1L, d.toLong * 10 + 1),
      )
    }.toDF("symbol", "ts", "price", "size", "trade_id")
    val r2 = BacktestStats.pbo(dom, nBlocks = 2).collect().head
    assert(r2.getAs[Double]("pbo") == 0.0)
    assert(r2.getAs[Double]("mean_logit") > 0.0)
    // determinism under repartitioning
    val r3 = BacktestStats.pbo(flip.repartition(7), nBlocks = 2).collect().head
    assert(r3.getAs[Double]("pbo") == 1.0 &&
      r3.getAs[Double]("mean_logit") == r1.getAs[Double]("mean_logit"))
  }

  test("strategy risk: hand-computed binary record; implied precision sits above break-even") {
    import graft.operators.BacktestStats
    // daily closes 100.00 101.00 100.50 101.50 101.50 102.50:
    // diffs +100 -50 +100 0 +100 cents -> np=3 sp=300, nn=1 sn=-50,
    // the zero day is no bet
    val t = trades(
      ("A", "2021-01-01 10:00:00", 100.00, 1L),
      ("A", "2021-01-02 10:00:00", 101.00, 1L),
      ("A", "2021-01-03 10:00:00", 100.50, 1L),
      ("A", "2021-01-04 10:00:00", 101.50, 1L),
      ("A", "2021-01-05 10:00:00", 101.50, 1L),
      ("A", "2021-01-06 10:00:00", 102.50, 1L),
    )
    val r = BacktestStats.strategyRisk(t).collect().head
    assert(r.getAs[Long]("n_bets") == 4L)
    assert(r.getAs[Double]("p") == 0.75)
    assert(r.getAs[Double]("pt_cents") == 100.0)
    assert(r.getAs[Double]("sl_cents") == -50.0)
    // mirror the double tree exactly
    val (pt, sl, p) = (100.0, -50.0, 0.75)
    val spread = pt - sl
    val a = 253.0 * spread * spread
    val b = (504.0 * sl - 1.0 * spread) * spread
    val c0 = 252.0 * sl * sl
    val disc = b * b - 4.0 * a * c0
    val impliedP = (-b + StrictMath.sqrt(disc)) / (2.0 * a)
    assert(r.getAs[Double]("implied_p") == impliedP)
    // payouts +100/-50: break-even precision is 1/3; a target SR of 1
    // needs only slightly more, and far less than the realized 0.75
    assert(impliedP > 1.0 / 3.0 && impliedP < 0.40)
    val denB = spread * p + sl
    val impliedFreq = (1.0 * spread) * (1.0 * spread) * p * (1.0 - p) / (denB * denB)
    assert(r.getAs[Double]("implied_freq") == impliedFreq)
    val srAnn = (spread * p + sl) * StrictMath.sqrt(252.0) / (spread * StrictMath.sqrt(p * (1.0 - p)))
    assert(r.getAs[Double]("sharpe_ann") == srAnn)
    // one-sided record -> null implied stats, non-null payouts
    val up = trades(
      ("B", "2021-01-01 10:00:00", 1.0, 1L),
      ("B", "2021-01-02 10:00:00", 2.0, 1L),
      ("B", "2021-01-03 10:00:00", 3.0, 1L),
    )
    val r2 = BacktestStats.strategyRisk(up).collect().head
    assert(r2.getAs[Long]("n_bets") == 2L && r2.isNullAt(r2.fieldIndex("p")) &&
      r2.getAs[Double]("pt_cents") == 100.0 && r2.isNullAt(r2.fieldIndex("sl_cents")))
  }

  test("roll adjust: gaps cancel at every month boundary; first month unadjusted") {
    import graft.operators.RollAdjust
    val t = trades(
      ("A", "2021-01-01 10:00:00", 100.00, 1L),
      ("A", "2021-01-20 10:00:00", 102.00, 1L),
      ("A", "2021-02-01 10:00:00", 105.00, 1L), // roll gap +3.00
      ("A", "2021-02-10 10:00:00", 104.00, 1L),
      ("A", "2021-03-01 10:00:00", 103.00, 1L), // roll gap -1.00
    )
    val g = RollAdjust.rollGaps(t).orderBy("month").collect()
    assert(g.map(_.getAs[Long]("gap_cents")).toSeq == Seq(0L, 300L, -100L))
    assert(g.map(_.getAs[Long]("cum_gap_cents")).toSeq == Seq(0L, 300L, 200L))
    val a = RollAdjust.adjust(t).orderBy("ts").collect()
    assert(a.map(_.getAs[Double]("adj_price")).toSeq ==
      Seq(100.00, 102.00, 102.00, 101.00, 101.00))
    // continuity: Feb's adjusted open == Jan's adjusted close, and
    // Mar's adjusted open == Feb's adjusted close
    assert(a(2).getAs[Double]("adj_price") == a(1).getAs[Double]("adj_price"))
    assert(a(4).getAs[Double]("adj_price") == a(3).getAs[Double]("adj_price"))
  }

  test("ONC: recovers planted correlation blocks; deterministic; silhouettes sane") {
    import graft.operators.Onc
    // 12 symbols in 3 planted blocks (5/4/3) — in-block corr 0.9,
    // cross-block 0.0
    val sizes = Seq(5, 4, 3)
    val block = sizes.zipWithIndex.flatMap { case (sz, b) => Seq.fill(sz)(b) }.toArray
    val n = block.length
    val corr = Array.tabulate(n, n) { (i, j) =>
      if (i == j) 1.0 else if (block(i) == block(j)) 0.9 else 0.0
    }
    val (labels, sil) = Onc.cluster(corr, maxK = 6, nInit = 4)
    assert(labels.max + 1 == 3)
    // exact block recovery: same planted block <=> same label
    for (i <- 0 until n; j <- 0 until n)
      assert((labels(i) == labels(j)) == (block(i) == block(j)), s"pair ($i,$j)")
    assert(sil.forall(s => s > 0.5 && s <= 1.0)) // tight, well-separated
    // canonical ids follow first-member order
    assert(labels(0) == 0 && labels(5) == 1 && labels(9) == 2)
    // pure function: same input -> identical output
    val (labels2, sil2) = Onc.cluster(corr, maxK = 6, nInit = 4)
    assert(labels.sameElements(labels2) && sil.sameElements(sil2))
    // end-to-end on real ticks: partition of the universe, k >= 1
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val out = Onc.clusters(t).collect()
    assert(out.nonEmpty)
    val k = out.head.getAs[Int]("n_clusters")
    assert(out.map(_.getAs[Int]("cluster_id")).distinct.length == k)
  }

  test("NCO: inverse/min-var analytic; nested == global min-var on block-diagonal cov") {
    import graft.operators.Nco
    // 2x2 inverse, analytic
    val inv = Nco.invert(Array(Array(4.0, 7.0), Array(2.0, 6.0))).get
    assert(math.abs(inv(0)(0) - 0.6) < 1e-12 && math.abs(inv(0)(1) + 0.7) < 1e-12)
    assert(math.abs(inv(1)(0) + 0.2) < 1e-12 && math.abs(inv(1)(1) - 0.4) < 1e-12)
    // min-var on diagonal cov: w_i ∝ 1/v_i
    val mv = Nco.minVar(Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 2.0, 0.0), Array(0.0, 0.0, 4.0)))
    assert(mv.zip(Seq(4.0 / 7, 2.0 / 7, 1.0 / 7)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // two zero-cross-corr blocks: nested == analytic global min-var
    // intra: equal within blocks; inter on diag(0.75, 1.5) -> (2/3, 1/3)
    val corr = Array(
      Array(1.0, 0.5, 0.0, 0.0),
      Array(0.5, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.5),
      Array(0.0, 0.0, 0.5, 1.0))
    val vars = Array(1.0, 1.0, 2.0, 2.0)
    val cov = Array.tabulate(4, 4)((i, j) => corr(i)(j) * math.sqrt(vars(i) * vars(j)))
    val (labels, w) = Nco.allocate(corr, cov, maxK = 3, nInit = 4)
    assert(labels(0) == labels(1) && labels(2) == labels(3) && labels(0) != labels(2))
    val expect = Seq(1.0 / 3, 1.0 / 3, 1.0 / 6, 1.0 / 6)
    assert(w.zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-9 }, w.toSeq.toString)
    assert(math.abs(w.sum - 1.0) < 1e-12)
    // end-to-end: active weights sum to 1, deterministic
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val out = Nco.weights(t).collect()
    val active = out.filter(_.getAs[Int]("cluster_id") >= 0)
    assert(math.abs(active.map(_.getAs[Double]("nco_weight")).sum - 1.0) < 1e-9)
    val out2 = Nco.weights(t).collect()
    assert(out.map(_.toString).sameElements(out2.map(_.toString)))
  }

  test("order flow: tick-rule signed volume hand-computed (seed +1, carry on flat)") {
    import graft.operators.Microstructure
    val t = Seq(
      ("A", ts("2021-01-01 10:00:00"), 100.0, 10L, 1L), // seed +1 -> buy
      ("A", ts("2021-01-01 10:00:01"), 101.0, 20L, 2L), // up -> buy
      ("A", ts("2021-01-01 10:00:02"), 100.5, 30L, 3L), // down -> sell
      ("A", ts("2021-01-01 10:00:03"), 100.5, 40L, 4L), // flat -> carry sell
      ("A", ts("2021-01-01 10:00:04"), 102.0, 50L, 5L), // up -> buy
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val r = Microstructure.orderFlow(t).collect().head
    assert(r.getAs[Long]("n_ticks") == 5L)
    assert(r.getAs[Long]("buy_vol") == 80L)
    assert(r.getAs[Long]("sell_vol") == 70L)
    assert(r.getAs[Double]("ofi") == 10.0 / 150.0)
  }

  test("tick QC: planted defects counted exactly; clean feed verdicts clean") {
    import graft.operators.TickQc
    val rows = Seq(
      ("A", ts("2021-01-01 10:00:00"), 100.00, 1L),
      ("A", ts("2021-01-01 10:00:01"), 100.50, 2L),
      ("A", ts("2021-01-01 10:00:02"), 107.00, 3L), // +6.5% jump (>5%)
      ("A", ts("2021-01-01 10:00:01"), 107.10, 4L), // ts goes backwards
      ("A", ts("2021-01-01 10:00:03"), -1.00, 5L), // bad print
      ("A", ts("2021-01-01 10:00:04"), 107.20, 5L), // duplicate id
      ("B", ts("2021-01-01 10:00:00"), 50.00, 10L),
      ("B", ts("2021-01-01 10:00:01"), 50.10, 11L),
    ).toDF("symbol", "ts", "price", "trade_id")
    val out = TickQc.report(rows).orderBy("symbol").collect()
    val a = out(0)
    assert(a.getAs[Long]("n_ticks") == 6L)
    assert(a.getAs[Long]("n_nonpos") == 1L)
    assert(a.getAs[Long]("n_dup_ids") == 1L)
    assert(a.getAs[Long]("n_ts_backwards") == 1L)
    // jumps: 100.50->107.00 (+6.5%) and -1.00->107.20 skipped (prev<=0)
    // but 107.10 -> -1.00 is a jump too
    assert(a.getAs[Long]("n_jumps") == 2L)
    assert(a.getAs[Int]("clean") == 0)
    val b = out(1)
    assert(b.getAs[Long]("n_ticks") == 2L && b.getAs[Int]("clean") == 1)
    assert(b.getAs[Double]("min_price") == 50.00 && b.getAs[Double]("max_price") == 50.10)
    // chunked form == global-window reference, with chunk boundaries
    // forced between almost every tick (chunkSize 2), on the defect
    // fixture AND real ticks
    val chunked = TickQc.report(rows, chunkSize = 2L).orderBy("symbol").collect().map(_.toString)
    val global = TickQc.reportGlobal(rows).orderBy("symbol").collect().map(_.toString)
    assert(chunked.toSeq == global.toSeq)
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val cr = TickQc.report(t, chunkSize = 64L).orderBy("symbol").collect().map(_.toString)
    val gr = TickQc.reportGlobal(t).orderBy("symbol").collect().map(_.toString)
    assert(cr.toSeq == gr.toSeq)
  }

  test("lz entropy: accumulator matches the textbook matchLength brute force; extremes behave") {
    import graft.operators.Microstructure
    val w = 8
    // deterministic LCG bit stream
    def lcgBits(n: Int, seed: Long): Array[Int] = {
      var s = seed
      Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L; ((s >>> 40) & 1L).toInt }
    }
    def brute(codes: Array[Int], w: Int): (Long, Double) = {
      // AFML ch.18 matchLength: longest substring starting at i that
      // also starts in [i-w, i), length capped at w; term log2(w+1)/(l+1)
      val n = codes.length
      var cnt = 0L
      var sum = 0.0
      for (i <- w to n - w) {
        var best = 0
        for (j <- i - w until i) {
          var l = 0
          while (l < w && codes(j + l) == codes(i + l)) l += 1
          if (l > best) best = l
        }
        sum += StrictMath.log((w + 1).toDouble) / StrictMath.log(2.0) / (best + 1).toDouble
        cnt += 1L
      }
      (cnt, if (cnt > 0) sum / cnt.toDouble else Double.NaN)
    }
    for (seed <- Seq(1L, 42L, 987654321L); n <- Seq(16, 17, 40, 200)) {
      val codes = lcgBits(n, seed)
      val acc = new Microstructure.LzAccumulator(w)
      codes.foreach(acc.add)
      val (bc, bh) = brute(codes, w)
      assert(acc.points == bc, s"points seed=$seed n=$n: ${acc.points} vs $bc")
      if (bc > 0) assert(acc.entropy.get == bh, s"entropy seed=$seed n=$n")
      else assert(acc.entropy.isEmpty)
    }
    // constant stream: every point matches the full window -> minimal H
    val const = new Microstructure.LzAccumulator(16)
    (0 until 100).foreach(_ => const.add(1))
    val hConst = const.entropy.get
    assert(math.abs(hConst - StrictMath.log(17.0) / StrictMath.log(2.0) / 17.0) < 1e-12)
    // pseudo-random stream: near 1 bit/symbol
    val rnd = new Microstructure.LzAccumulator(16)
    lcgBits(4000, 7L).foreach(rnd.add)
    assert(rnd.entropy.get > 0.6 && rnd.entropy.get < 1.4, s"random H=${rnd.entropy.get}")
    assert(hConst < rnd.entropy.get)
  }

  test("lz entropy scan: monotone day hits the repetitive floor; short days emit null") {
    import graft.operators.Microstructure
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // 100 strictly increasing closes -> all-'u' stream, window 32
    val up = (0 until 100)
      .map(i => ("U", ts(i.toLong), 100.0 + i, 1L, i.toLong))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val r = Microstructure.lzEntropyScan(up).collect().head
    assert(r.getAs[Long]("n_ticks") == 100L && r.getAs[Long]("n_points") == 100L - 64L + 1L)
    assert(math.abs(r.getAs[Double]("lz_entropy") - StrictMath.log(33.0) / StrictMath.log(2.0) / 33.0) < 1e-12)
    // a 40-tick day has no point with full history + lookahead at w=32
    val short = (0 until 40)
      .map(i => ("S", ts(i.toLong), 100.0 + i, 1L, i.toLong))
      .toDF("symbol", "ts", "price", "size", "trade_id")
    val s = Microstructure.lzEntropyScan(short).collect().head
    assert(s.getAs[Long]("n_points") == 0L && s.isNullAt(s.fieldIndex("lz_entropy")))
  }

  test("hrp: SLINK order keeps clones adjacent; bisection is inverse-variance for two assets") {
    import graft.operators.Hrp
    // assets 0 and 2 perfectly correlated (distance 0): must merge
    // first and sit adjacent in the dendrogram leaf order
    val corr = Array(
      Array(1.0, 0.0, 1.0),
      Array(0.0, 1.0, 0.0),
      Array(1.0, 0.0, 1.0),
    )
    val order = Hrp.quasiDiagOrder(corr)
    assert(order.sorted.toSeq == Seq(0, 1, 2))
    val pos = order.zipWithIndex.toMap
    assert(math.abs(pos(0) - pos(2)) == 1, s"clones not adjacent: ${order.toSeq}")
    // two uncorrelated assets: HRP = inverse-variance split exactly
    val id2 = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val v = Array(4.0, 1.0)
    val w = Hrp.recursiveBisection(Array(0, 1), v, id2)
    assert(math.abs(w(0) - 1.0 / 5.0) < 1e-15 && math.abs(w(1) - 4.0 / 5.0) < 1e-15)
    // weights multiply to a full allocation
    assert(math.abs(w.sum - 1.0) < 1e-15)
  }

  test("hrp denoising: Jacobi eigen reproduces A·v = λ·v; MP shrink keeps the factor, flattens noise") {
    import graft.operators.Hrp
    // hand case: eigenvalues of [[2,1],[1,2]] are 3 and 1
    val m2 = Array(Array(2.0, 1.0), Array(1.0, 2.0))
    val (w2, v2) = Hrp.jacobiEigen(m2)
    assert(w2.sorted.zip(Seq(1.0, 3.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // residual ||A v - w v|| per eigenpair
    for (k <- 0 until 2) {
      val av = (0 until 2).map(i => m2(i)(0) * v2(0)(k) + m2(i)(1) * v2(1)(k))
      assert((0 until 2).forall(i => math.abs(av(i) - w2(k) * v2(i)(k)) < 1e-10))
    }
    // trace preservation on a bigger symmetric matrix
    val n = 6
    val rng = new scala.util.Random(7)
    val sym = Array.tabulate(n, n)((_, _) => 0.0)
    for (i <- 0 until n; j <- i until n) { val x = rng.nextDouble() - 0.5; sym(i)(j) = x; sym(j)(i) = x }
    val (we, ve) = Hrp.jacobiEigen(sym)
    assert(math.abs(we.sum - (0 until n).map(i => sym(i)(i)).sum) < 1e-10)
    for (k <- 0 until n; i <- 0 until n) {
      val av = (0 until n).map(j => sym(i)(j) * ve(j)(k)).sum
      assert(math.abs(av - we(k) * ve(i)(k)) < 1e-8)
    }
    // one strong equicorrelated factor (rho .6) + tiny noise: after
    // the MP shrink the off-diagonal factor structure survives and
    // the diagonal is exactly 1
    val rho = 0.6
    val corr = Array.tabulate(n, n)((i, j) =>
      if (i == j) 1.0 else rho + 0.01 * math.sin((i * n + j + 1).toDouble))
    for (i <- 0 until n; j <- i + 1 until n) corr(j)(i) = corr(i)(j)
    val den = Hrp.denoiseCorr(corr, q = 5.0)
    assert((0 until n).forall(i => den(i)(i) == 1.0))
    for (i <- 0 until n; j <- 0 until n if i != j)
      assert(math.abs(den(i)(j) - rho) < 0.1, s"factor lost at ($i,$j): ${den(i)(j)}")
    // detoning an equicorrelated (pure-market) matrix strips the
    // common mode: off-diagonals collapse toward the negative
    // equi-residual -1/(n-1), diagonal stays exactly 1
    val equi = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else rho)
    val det = Hrp.detoneCorr(equi)
    assert((0 until n).forall(i => det(i)(i) == 1.0))
    for (i <- 0 until n; j <- 0 until n if i != j)
      assert(math.abs(det(i)(j) - (-1.0 / (n - 1).toDouble)) < 1e-8,
        s"detone residual at ($i,$j): ${det(i)(j)}")
    // denoised HRP still allocates a full, deterministic budget
    def ts(day: Int) = new java.sql.Timestamp(86400000L * day)
    val rows = (1 to 9).flatMap { d =>
      Seq(
        ("A", ts(d), if (d % 2 == 0) 101.00 else 100.00, 1L, d.toLong * 10),
        ("B", ts(d), if (d % 2 == 0) 96.00 else 100.00, 1L, d.toLong * 10 + 1),
        ("C", ts(d), if (d % 3 == 0) 103.00 else 100.00, 1L, d.toLong * 10 + 2),
      )
    }.toDF("symbol", "ts", "price", "size", "trade_id")
    val w = graft.operators.Hrp.weights(rows, denoise = true).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(w.values.sum - 1.0) < 1e-12 && w.values.forall(_ >= 0.0))
    val w2b = graft.operators.Hrp.weights(rows, denoise = true).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w == w2b)
  }

  test("hrp weights: distributed end-to-end — sum 1, low-vol tilt, zero-variance symbol excluded") {
    import graft.operators.Hrp
    def ts(day: Int) = new java.sql.Timestamp(86400000L * day)
    // A: ±1% alternating closes; B: ±4% on opposite phase; Z: flat
    val rows = (1 to 9).flatMap { d =>
      val a = if (d % 2 == 0) 101.00 else 100.00
      val b = if (d % 2 == 0) 96.00 else 100.00
      Seq(
        ("A", ts(d), a, 1L, d.toLong * 10),
        ("B", ts(d), b, 1L, d.toLong * 10 + 1),
        ("Z", ts(d), 50.0, 1L, d.toLong * 10 + 2),
      )
    }
    val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
    val w = Hrp.weights(df).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w.keySet == Set("A", "B", "Z"))
    assert(w("Z") == 0.0) // flat series carries no inverse-variance allocation
    assert(math.abs(w("A") + w("B") - 1.0) < 1e-12)
    assert(w("A") > w("B")) // lower-vol symbol gets the larger share
    // corr matrix side is oracle-gated; here pin the clone case
    val clones = (1 to 5).flatMap { d =>
      val p = if (d % 2 == 0) 102.00 else 100.00
      Seq(("C1", ts(d), p, 1L, d.toLong * 10), ("C2", ts(d), p, 1L, d.toLong * 10 + 1))
    }.toDF("symbol", "ts", "price", "size", "trade_id")
    val pc = Hrp.pairwiseCorr(clones).collect().head
    assert(math.abs(pc.getAs[Double]("corr") - 1.0) < 1e-12)
  }

  test("becker-parkinson sigma: op-for-op formula replay on the CS beta/gamma, first day dropped") {
    import graft.operators.Microstructure
    def ts(day: Int, min: Long) = new java.sql.Timestamp(86400000L * day + min * 60000L)
    val t = Seq(
      ("B", ts(1, 0L), 100.00, 1L, 0L),
      ("B", ts(1, 1L), 102.00, 1L, 1L),
      ("B", ts(2, 0L), 101.00, 1L, 2L),
      ("B", ts(2, 1L), 103.00, 1L, 3L),
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val rows = Microstructure.beckerParkinson(t).collect()
    assert(rows.length == 1) // the lag-less first day emits nothing
    val row = rows.head
    val beta = row.getAs[Double]("beta")
    val gamma = row.getAs[Double]("gamma")
    val k2 = math.sqrt(8.0 / math.Pi)
    val den = 3.0 - 2.0 * math.sqrt(2.0)
    val c1 = 1.0 / math.sqrt(2.0) - 1.0
    val sigma = c1 * math.sqrt(beta) / (k2 * den) + math.sqrt(gamma / (k2 * k2 * den))
    assert(row.getAs[Double]("bp_sigma") == math.max(sigma, 0.0))
    assert(row.getAs[Double]("bp_sigma") >= 0.0)
    // beta replays the CS r0²+r1² on integer-cent daily extremes
    // (StrictMath: Catalyst's Log evaluates via StrictMath.log)
    val r0 = StrictMath.log(10300.0 / 10100.0)
    val r1 = StrictMath.log(10200.0 / 10000.0)
    assert(beta == r0 * r0 + r1 * r1)
  }

  test("realized vol: hand-computed RV/BV/jump; sparse-day nulls") {
    import graft.operators.Microstructure
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    // prices 100 -> 110 -> 99: r1 = 0.1, r2 = -0.1
    val t = Seq(
      ("A", ts(0L), 100.00, 1L, 0L),
      ("A", ts(1L), 110.00, 1L, 1L),
      ("A", ts(2L), 99.00, 1L, 2L),
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val r = Microstructure.realizedVol(t).collect().head
    val r1 = 1000.0 / 10000.0
    val r2 = -1100.0 / 11000.0
    val rv = r1 * r1 + r2 * r2
    val bv = math.Pi / 2 * (math.abs(r2) * math.abs(r1))
    assert(r.getAs[Long]("n_returns") == 2L)
    assert(r.getAs[Double]("rv") == rv)
    assert(r.getAs[Double]("bv") == bv)
    assert(r.getAs[Double]("jump") == math.max(rv - bv, 0.0))
    // single-return day: rv defined, bv/jump null
    val one = Seq(
      ("B", ts(0L), 100.00, 1L, 0L),
      ("B", ts(1L), 101.00, 1L, 1L),
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val o = Microstructure.realizedVol(one).collect().head
    assert(o.getAs[Long]("n_returns") == 1L && !o.isNullAt(o.fieldIndex("rv")))
    assert(o.isNullAt(o.fieldIndex("bv")) && o.isNullAt(o.fieldIndex("jump")))
  }

  test("multi-window rolling scan is bit-identical to per-window single scans") {
    import graft.operators.Rolling
    val trades = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    val multi = Rolling.featuresMulti(trades, Seq("30 minutes", "2 hours"))
      .select("symbol", "trade_id", "rolling_vwap_30minutes", "rolling_max_30minutes",
        "rolling_vwap_2hours", "rolling_n_2hours")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val w30 = Rolling.features(trades, "30 minutes")
      .select("symbol", "trade_id", "rolling_vwap", "rolling_max")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val w2h = Rolling.features(trades, "2 hours")
      .select("symbol", "trade_id", "rolling_vwap", "rolling_n")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    assert(multi.size == w30.size && multi.nonEmpty)
    multi.foreach { case (k, m) =>
      assert(java.lang.Double.doubleToLongBits(m.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(w30(k).getDouble(2)))
      assert(m.getDouble(3) == w30(k).getDouble(3))
      assert(java.lang.Double.doubleToLongBits(m.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(w2h(k).getDouble(2)))
      assert(m.getLong(5) == w2h(k).getLong(3))
    }
  }

  test("vpin: straddling trades split at exact bucket boundaries, signed") {
    import graft.operators.Microstructure
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    val t = Seq(
      ("V", ts(0L), 100.00, 6L, 0L), // first tick: sign seeds +1
      ("V", ts(1L), 99.90, 8L, 1L), // down tick: -1; splits 4 into bucket0, 4 into bucket1
    ).toDF("symbol", "ts", "price", "size", "trade_id")
    val out = Microstructure.vpin(t, bucketVolume = 10L, window = 10)
      .orderBy("bucket")
      .select("bucket", "v_buy", "v_sell", "imbalance", "vpin")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 6L, 4L, 2L, 2.0 / 10.0),
      (1L, 0L, 4L, 4L, 6.0 / 14.0),
    ))
  }

  test("triple barrier: segment-tree scan core == interval-join core, bit-exact") {
    import graft.api.TradingCols
    val t = graft.sources.TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    // const-target AND vol-target variants; 4h (intra-day halo) and
    // 26h (multi-day halo) horizons
    val cases = Seq(
      ("4 hours", Some(0.02)),
      ("26 hours", Some(0.01)),
      ("4 hours", None),
    )
    for ((horizon, const) <- cases) {
      val want = BarrierJoinReference
        .tripleBarrierCore(t, horizon, 1.0, 1.0, 100, const, TradingCols.default)
        .orderBy("symbol", "ts", "price")
        .collect()
      val got = Labels
        .tripleBarrierCoreScan(t, horizon, 1.0, 1.0, 100, const, TradingCols.default)
        .orderBy("symbol", "ts", "price")
        .collect()
      assert(got.length == want.length && got.nonEmpty, s"row count for ($horizon, $const)")
      got.zip(want).foreach { case (g, w) =>
        (0 until g.length).foreach { i =>
          (g.get(i), w.get(i)) match {
            case (a: java.lang.Double, b: java.lang.Double) =>
              assert(
                java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
                s"($horizon, $const) col $i of ${g.get(0)} ${g.get(1)}: $a vs $b",
              )
            case (a, b) =>
              assert(a == b, s"($horizon, $const) col $i of ${g.get(0)} ${g.get(1)}: $a vs $b")
          }
        }
      }
    }
  }

  test("barrier scan survives degenerate prices: negative, NaN, null, zero") {
    import graft.api.TradingCols
    def ts(min: Long) = new java.sql.Timestamp(86400000L + min * 60000L)
    val rows = Seq(
      ("D", ts(0L), java.lang.Double.valueOf(-10.0), 1L, 0L),  // negative event price
      ("D", ts(1L), java.lang.Double.valueOf(-11.0), 1L, 1L),  // ret vs -10: +0.1 -> pt
      ("D", ts(2L), java.lang.Double.valueOf(5.0), 1L, 2L),
      ("D", ts(3L), java.lang.Double.valueOf(Double.NaN), 1L, 3L), // NaN path tick
      ("D", ts(4L), java.lang.Double.valueOf(0.0), 1L, 4L),    // zero event price
      ("D", ts(5L), null.asInstanceOf[java.lang.Double], 1L, 5L), // null price
      ("D", ts(6L), java.lang.Double.valueOf(6.0), 1L, 6L),
    )
    val df = rows.toDF("symbol", "ts", "price", "size", "trade_id")
    // must not crash; and on the non-null subset the scan must agree
    // with the join core run over the same na-dropped frame
    val clean = df.na.drop(Seq("price"))
    val want = BarrierJoinReference
      .tripleBarrierCore(clean, "2 hours", 1.0, 1.0, 100, Some(0.05), TradingCols.default)
      .orderBy("ts", "price")
      .collect()
    val got = Labels
      .tripleBarrierCoreScan(df, "2 hours", 1.0, 1.0, 100, Some(0.05), TradingCols.default)
      .orderBy("ts", "price")
      .collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      (0 until g.length).foreach { i =>
        (g.get(i), w.get(i)) match {
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(
              java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
              s"col $i of ts ${g.get(1)}: $a vs $b",
            )
          case (a, b) => assert(a == b, s"col $i of ts ${g.get(1)}: $a vs $b")
        }
      }
    }
    // the negative-price event found its crossing (linear fallback)
    val neg = got.find(_.getDouble(2) == -10.0).get
    assert(neg.getAs[java.sql.Timestamp]("pt_ts") != null)
  }

  test("sign entropy: streaming scan == declarative, bit-exact") {
    import graft.operators.Microstructure
    // multi-symbol, multi-day deterministic walk with flats (sign
    // carry), a one-tick day (h2=h3=0), and a two-tick day (h3=0)
    def ts(day: Int, min: Long) =
      new java.sql.Timestamp(day.toLong * 86400000L + 36000000L + min * 60000L)
    val rows = for {
      sym <- Seq("A", "B")
      day <- 1 to 3
      i <- 0 until (if (day == 2 && sym == "B") 1 else if (day == 3 && sym == "B") 2 else 40)
    } yield {
      val drift = ((i * 7 + day * 3 + sym.hashCode) % 5) - 2 // -2..2 incl. 0 flats
      (sym, ts(day, i.toLong), 100.0 + drift * 0.01 + i * 0.001, 1L, i.toLong)
    }
    val t = rows
      .toDF("symbol", "ts", "price", "size", "trade_id")
      .unionByName( // real tick data too
        graft.sources.TradeData
          .fromEvents(spark, "/root/testdata/sf0.001")
          .select("symbol", "ts", "price", "size", "trade_id")
      )
    val want = TickScanReference
      .signEntropy(t)
      .orderBy("symbol", "date")
      .collect()
    val got = Microstructure
      .signEntropy(t)
      .orderBy("symbol", "date")
      .collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getDate(1) == w.getDate(1))
      assert(g.getLong(2) == w.getLong(2), s"n_ticks of ${g.getString(0)} ${g.getDate(1)}")
      (3 to 5).foreach { i =>
        assert(
          java.lang.Double.doubleToLongBits(g.getDouble(i)) ==
            java.lang.Double.doubleToLongBits(w.getDouble(i)),
          s"h${i - 2} of ${g.getString(0)} ${g.getDate(1)}: ${g.getDouble(i)} vs ${w.getDouble(i)}",
        )
      }
    }
  }
}
