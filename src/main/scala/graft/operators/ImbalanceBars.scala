package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Tick-imbalance bars (AFML ch.2.3.2.1 — beyond the reference's
  * four bar types, on the same keyed-scan machinery as
  * Bars.dollarBars).
  *
  * Tick rule: b_t = sign(Δprice), carrying the previous sign on
  * Δ=0. The bar closes when the accumulated signed imbalance
  * |θ| = |Σ b_t| reaches E[T]·max(|E[b]|, minImbalance), where E[T]
  * (expected ticks per bar) and E[b] (expected per-tick imbalance)
  * are EWMAs over closed bars, seeded with initTicks / initImbalance.
  * Thresholds therefore adapt: runs of one-sided flow close bars
  * faster.
  *
  * Inherently sequential per symbol (threshold state feeds forward),
  * so: one keyed scan per symbol (one hash exchange, one sort, an
  * O(1)-state kernel) — bars span days, so no date splitting. The
  * trailing open bar of a symbol is not emitted.
  *
  * `alpha` is the EWMA adaptivity of the expected-ticks/imbalance
  * estimates; alpha = 0 freezes both at their seeds, i.e. a fixed
  * threshold initTicks·max(|initImbalance|, minImbalance) — the
  * SQL-oracle-able configuration.
  */
object ImbalanceBars {

  private def schema(extra: String*): StructType = StructType(
    Seq(StructField("symbol", StringType), StructField("ts_start", TimestampType),
      StructField("ts_end", TimestampType)) ++
      Seq("open", "high", "low", "close").map(StructField(_, DoubleType)) ++
      Seq(StructField("volume", LongType), StructField("vwap", DoubleType), StructField("n_trades", LongType)) ++
      extra.map(StructField(_, LongType))
  )

  /** Tick rule and open-bar OHLCV over (symbol, ts, price, size,
    * trade_id) rows of one symbol. A subclass accumulates its
    * imbalance per tick, says when the bar closes, writes its extra
    * columns from ordinal 10 and adapts its expectations.
    */
  private abstract class ImbalanceScan(alpha: Double) extends ScanKernel {
    private var key: InternalRow = null
    private var prevPrice = Double.NaN
    private var prevSign = 1
    protected var n = 0L
    private var tsSNull, tsENull = false
    private var tsS, tsE, vol, pv = 0L
    private var o, h, l, cl = 0.0

    protected def start(): Unit
    protected def accumulate(sign: Int, price: Double, size: Long): Unit
    protected def closes: Boolean
    protected def writeExtra(out: ScanOut): Unit
    protected def adapt(): Unit

    def reset(k: InternalRow): Unit = {
      key = k; prevPrice = Double.NaN; prevSign = 1; n = 0L; vol = 0L; pv = 0L; start()
    }

    def step(row: InternalRow, out: ScanOut): Unit = if (!Bars.noPrice(row, 2)) {
      val price = row.getDouble(2)
      val size = row.getLong(3)
      val sign =
        if (prevPrice.isNaN || price == prevPrice) prevSign
        else if (price > prevPrice) 1
        else -1
      prevPrice = price; prevSign = sign
      if (n == 0L) { tsSNull = row.isNullAt(1); tsS = row.getLong(1); o = price; h = price; l = price }
      n += 1
      tsENull = row.isNullAt(1); tsE = row.getLong(1)
      h = math.max(h, price); l = math.min(l, price); cl = price
      vol += size; pv += math.round(price * 100) * size // exact price·size cents
      accumulate(sign, price, size)
      if (closes) {
        val w = out.begin()
        out.copy(0, key, 0, StringType)
        if (tsSNull) w.setNullAt(1) else w.write(1, tsS)
        if (tsENull) w.setNullAt(2) else w.write(2, tsE)
        w.write(3, o); w.write(4, h); w.write(5, l); w.write(6, cl); w.write(7, vol)
        w.write(8, pv.toDouble / 100.0 / vol.toDouble); w.write(9, n)
        writeExtra(out)
        out.emit()
        if (alpha > 0) adapt()
        n = 0L; vol = 0L; pv = 0L; start()
      }
    }

    def flush(out: ScanOut): Unit = ()
  }

  /** θ = Σ sign·unit; closes at |θ| >= E[T]·max(|E[θ/tick]|, floor). */
  private final class ThetaScan(initT: Double, initB: Double, floor: Double, alpha: Double,
      unit: (Double, Long) => Long) extends ImbalanceScan(alpha) {
    private var expT = initT
    private var expB = initB
    private var theta = 0L
    override def reset(k: InternalRow): Unit = { expT = initT; expB = initB; super.reset(k) }
    protected def start(): Unit = theta = 0L
    protected def accumulate(sign: Int, price: Double, size: Long): Unit = theta += sign * unit(price, size)
    protected def closes: Boolean = math.abs(theta.toDouble) >= expT * math.max(math.abs(expB), floor)
    protected def writeExtra(out: ScanOut): Unit = out.w.write(10, theta)
    protected def adapt(): Unit = {
      expT = (1 - alpha) * expT + alpha * n
      expB = (1 - alpha) * expB + alpha * (theta.toDouble / n)
    }
  }

  private def thetaBars(df: DataFrame, c: TradingCols, alpha: Double)(scan: () => ThetaScan): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha in [0,1]")
    KeyedScan(Bars.barInput(df, c), Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)), schema("theta"),
      keyOut = Seq("symbol"))(scan)
  }

  /** Dollar imbalance bars (AFML ch.2.3.2.2): θ accumulates
    * sign_t · dollarValue_t (exact integer cents); the bar closes when
    * |θ| reaches E[T]·|E[signed dollars/tick]| — EWMA-adaptive, or
    * frozen at initTicks·initDollarImbalance·100 cents when alpha=0
    * (the SQL-oracle-able configuration).
    */
  def dollarImbalanceBars(
      df: DataFrame,
      initTicks: Double = 100.0,
      /** expected |signed dollars per tick| seed, in dollars. */
      initDollarImbalance: Double = 25.0,
      minDollarImbalance: Double = 1.0,
      alpha: Double = 0.1,
      c: TradingCols = TradingCols.default,
  ): DataFrame = thetaBars(df, c, alpha) { () =>
    new ThetaScan(initTicks, initDollarImbalance * 100.0, minDollarImbalance * 100.0, alpha,
      (price, size) => math.round(price * 100) * size)
  }

  /** Volume imbalance bars (AFML ch.2.3.2.2, volume form): θ
    * accumulates sign_t · size_t; close at |θ| >=
    * E[T]·max(|E[signed size/tick]|, minVolumeImbalance) — frozen
    * when alpha=0.
    */
  def volumeImbalanceBars(
      df: DataFrame,
      initTicks: Double = 100.0,
      initVolumeImbalance: Double = 10.0,
      minVolumeImbalance: Double = 1.0,
      alpha: Double = 0.1,
      c: TradingCols = TradingCols.default,
  ): DataFrame = thetaBars(df, c, alpha) { () =>
    new ThetaScan(initTicks, initVolumeImbalance, minVolumeImbalance, alpha, (_, size) => size)
  }

  def tickImbalanceBars(
      df: DataFrame,
      initTicks: Double = 100.0,
      initImbalance: Double = 0.2,
      minImbalance: Double = 0.05,
      alpha: Double = 0.1,
      c: TradingCols = TradingCols.default,
  ): DataFrame = thetaBars(df, c, alpha) { () =>
    new ThetaScan(initTicks, initImbalance, minImbalance, alpha, (_, _) => 1L)
  }

  /** Tick run bars (AFML ch.2.3.2.3): θ = max(up-tick count,
    * down-tick count) in the open bar; closes at θ >= E[T]·max(P[up],
    * 1-P[up]) — EWMA-adaptive, frozen at initTicks·initPmax when
    * alpha=0. Output carries both run counts.
    */
  def tickRunBars(
      df: DataFrame,
      initTicks: Double = 100.0,
      initPmax: Double = 0.55,
      alpha: Double = 0.1,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha in [0,1]")
    require(initPmax >= 0.5 && initPmax <= 1.0, "initPmax in [0.5,1]")
    KeyedScan(Bars.barInput(df, c), Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)),
      schema("up_ticks", "down_ticks"), keyOut = Seq("symbol")) { () =>
      new ImbalanceScan(alpha) {
        private var expT = initTicks
        private var pMax = initPmax
        private var up, down = 0L
        override def reset(k: InternalRow): Unit = { expT = initTicks; pMax = initPmax; super.reset(k) }
        protected def start(): Unit = { up = 0L; down = 0L }
        protected def accumulate(sign: Int, price: Double, size: Long): Unit =
          if (sign > 0) up += 1 else down += 1
        protected def closes: Boolean = math.max(up, down).toDouble >= expT * pMax
        protected def writeExtra(out: ScanOut): Unit = { out.w.write(10, up); out.w.write(11, down) }
        protected def adapt(): Unit = {
          expT = (1 - alpha) * expT + alpha * n
          pMax = (1 - alpha) * pMax + alpha * (math.max(up, down).toDouble / n)
        }
      }
    }
  }
}
