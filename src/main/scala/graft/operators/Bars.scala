package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols

/** OHLCV bar construction over trade ticks.
  *
  * Re-expression of the reference's bar generators
  * (/root/reference/polars_trading/bars.py:91,142,194,247 and the
  * Rust `bar_groups` kernel /root/reference/src/bars.rs:10) as
  * declarative Spark plans:
  *
  *  - time/tick bars: one shuffle (groupBy / window over symbol,date).
  *  - volume bars (split-at-boundary semantics, bars.rs allow_splits=
  *    true): bar boundaries fall at exact multiples of `barSize` of
  *    the per-(symbol,date) cumulative volume, so group membership is
  *    pure arithmetic on a running sum — stays in whole-stage codegen,
  *    no sequential kernel needed.
  *  - dollar bars (bars.rs allow_splits=false over unit-exploded
  *    trades, bars.py:288): inherently sequential carry per
  *    (symbol,date); computed as a streaming per-partition scan with
  *    O(1) state and closed-form per-trade splitting — NOT the
  *    reference's O(Σsize) explode-every-share, which cannot scale.
  *
  * All orderings tiebreak on `tradeId` so results are deterministic
  * even with duplicate timestamps.
  */
object Bars {

  /** Shared OHLCV aggregation (reference bars.py:72 `_ohlcv_expr`).
    * `sizeCol` is the effective size of the (possibly split) piece.
    */
  private[graft] def ohlcvAggs(c: TradingCols, sizeCol: Column): Seq[Column] = {
    // open/close via the codegen'd OrderedHead aggregate, NOT
    // min_by(price, struct(ts, trade_id)): a struct ordering key
    // demotes the ENTIRE aggregation (high/low/vwap/count included)
    // to ObjectHashAggregate's row-based path — measured ~3.5 µs/row
    // vs ~1 µs/row whole-stage-codegen'd on the refbench 1M shape.
    // Same lexicographic (ts, trade_id) tiebreak semantics.
    Seq(
      min(col(c.ts)).as("ts_start"),
      max(col(c.ts)).as("ts_end"),
      graft.functions.OrderedAgg
        .firstByOrd(col(c.price), col(c.ts), col(c.tradeId))
        .as(c.open),
      max(col(c.price)).as(c.high),
      min(col(c.price)).as(c.low),
      graft.functions.OrderedAgg
        .lastByOrd(col(c.price), col(c.ts), col(c.tradeId))
        .as(c.close),
      sum(sizeCol).cast("long").as("volume"),
      // vwap in exact integer cents: Σ cents·size is associative, so
      // Spark's partial-agg order and the oracle's parallel sum order
      // produce the identical Long — the final two double divisions
      // are then bit-equal across engines. A double Σ price·size is
      // order-sensitive in the last ulps and made the oracle compare
      // flaky (DuckDB's parallel agg chunk order varies run to run).
      (sum(round(col(c.price) * 100).cast("long") * sizeCol).cast("double")
        / lit(100.0) / sum(sizeCol).cast("double")).as("vwap"),
      count(lit(1)).as("n_trades"),
    )
  }

  private def barCols(c: TradingCols): Seq[String] =
    Seq("ts_start", "ts_end", c.open, c.high, c.low, c.close, "volume", "vwap", "n_trades")

  /** Time bars: tumbling windows of `barSize` (epoch-aligned, UTC),
    * equivalent to the reference's `dt.truncate` grouping
    * (bars.py:131). Output includes `bar_ts`, the window start.
    */
  def timeBars(
      df: DataFrame,
      barSize: String = "1 hour",
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val aggs = ohlcvAggs(c, col(c.size))
    // unsorted by design: ordering is the caller's concern — an
    // operator-embedded orderBy would add a range exchange per query
    df.na
      .drop(Seq(c.price))
      .groupBy(col(c.symbol), window(col(c.ts), barSize).getField("start").as("bar_ts"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(c.symbol) +: col("bar_ts") +: barCols(c).map(col): _*)
  }

  /** Tick bars: N consecutive ticks per bar within (symbol, date)
    * (reference bars.py:142; split_by_date=true).
    */
  def tickBars(
      df: DataFrame,
      barSize: Int = 100,
      splitByDate: Boolean = true,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val dateKeys =
      if (splitByDate) Seq(to_date(col(c.ts)).as("__date")) else Seq.empty[Column]
    val keyNames = c.symbol +: (if (splitByDate) Seq("__date") else Nil)
    val w = Window
      .partitionBy(keyNames.map(col): _*)
      .orderBy(col(c.ts), col(c.tradeId))
    val grouped = df.na
      .drop(Seq(c.price))
      .select(col("*") +: dateKeys: _*)
      .withColumn("__g", ((row_number().over(w) - 1) / barSize).cast("long"))
    grouped
      .groupBy((keyNames :+ "__g").map(col): _*)
      .agg(ohlcvAggs(c, col(c.size)).head, ohlcvAggs(c, col(c.size)).tail: _*)
      .select(col(c.symbol) +: barCols(c).map(col): _*)
  }

  /** Volume bars with split-at-boundary semantics (reference
    * bars.py:194 + bars.rs allow_splits=true): a trade straddling a
    * multiple of `barSize` in cumulative volume is split, the first
    * part closing the bar exactly at the boundary.
    *
    * Distributed form: running volume `cum` per (symbol,date); the
    * piece of a trade covering units [cumStart, cumEnd) lands in
    * groups cumStart/B .. (cumEnd-1)/B with overlap-length amounts.
    * Integer arithmetic throughout → engine-independent grouping.
    */
  def volumeBars(
      df: DataFrame,
      barSize: Long = 10000L,
      splitByDate: Boolean = true,
      /** true: split a straddling trade at the exact boundary
        * (reference bar_groups allow_splits=true — arithmetic on the
        * cumulative sum, whole-stage codegen); false: the whole trade
        * stays in the bar, the bar closes with overflow when its total
        * reaches barSize (allow_splits=false — sequential reset-cumsum,
        * streaming O(1)-state scan). The trailing partial bar is
        * emitted in both modes, matching bar_groups.
        */
      allowSplits: Boolean = true,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    if (!allowSplits) return volumeBarsOverflow(df, barSize, splitByDate, c)
    val keyNames = c.symbol +: (if (splitByDate) Seq("__date") else Nil)
    val w = Window
      .partitionBy(keyNames.map(col): _*)
      .orderBy(col(c.ts), col(c.tradeId))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base =
      if (splitByDate) df.withColumn("__date", to_date(col(c.ts))) else df
    val pieces = base.na
      .drop(Seq(c.price))
      .withColumn("__cum_end", sum(col(c.size)).over(w))
      .withColumn("__cum_start", col("__cum_end") - col(c.size))
      .withColumn(
        "__g",
        explode(
          sequence(
            expr(s"__cum_start div ${barSize}L"),
            expr(s"(__cum_end - 1) div ${barSize}L"),
          )
        ),
      )
      .withColumn(
        "__amount",
        least(col("__cum_end"), (col("__g") + 1) * barSize) -
          greatest(col("__cum_start"), col("__g") * barSize),
      )
    pieces
      .groupBy((keyNames :+ "__g").map(col): _*)
      .agg(ohlcvAggs(c, col("__amount")).head, ohlcvAggs(c, col("__amount")).tail: _*)
      .select(col(c.symbol) +: barCols(c).map(col): _*)
  }

  /** Input of the fused bar scans, in kernel column order. */
  private[operators] def barInput(df: DataFrame, c: TradingCols): DataFrame =
    typed(df, c.symbol -> StringType, c.ts -> TimestampType, c.price -> DoubleType,
      c.size -> LongType, c.tradeId -> LongType)

  /** The ticks with a price (`na.drop(price)`: no null or NaN price) as
    * symbol STRING, ts TIMESTAMP, price DOUBLE, trade_id BIGINT, at
    * ordinals 0-3: the input of the per-symbol statistic scans.
    */
  private[operators] def pricedTicks(df: DataFrame, c: TradingCols): DataFrame =
    typed(df.na.drop(Seq(c.price)), c.symbol -> StringType, c.ts -> TimestampType, c.price -> DoubleType,
      c.tradeId -> LongType)

  /** The rows `na.drop(price)` drops: a null or NaN price at `i`. */
  private[operators] def noPrice(row: InternalRow, i: Int): Boolean = row.isNullAt(i) || row.getDouble(i).isNaN

  /** `df` pruned to `cols` in this order, each cast only where its type
    * differs — a pure column selection otherwise, which Catalyst folds
    * into the scan below the exchange.
    */
  private[operators] def typed(df: DataFrame, cols: (String, DataType)*): DataFrame =
    df.select(cols.map { case (n, t) => typedCol(df, n, t) }: _*)

  private[operators] def typedCol(df: DataFrame, n: String, t: DataType): Column =
    if (df.schema(n).dataType == t) col(n) else col(n).cast(t).as(n)

  private def barSchema(c: TradingCols): StructType = StructType(
    Seq(StructField("symbol", StringType)) ++ barCols(c).map { n =>
      StructField(n, n match {
        case "ts_start" | "ts_end" => TimestampType
        case "volume" | "n_trades" => LongType
        case _ => DoubleType
      })
    }
  )

  private def barKeys(c: TradingCols, splitByDate: Boolean): Seq[Column] =
    col(c.symbol) +: (if (splitByDate) Seq(to_date(col(c.ts))) else Nil)

  /** One open OHLCV bar of a fused overflow scan over (symbol, ts,
    * price, size, trade_id) rows with a price (neither null nor NaN),
    * folded in scan order. It gives what the groupBy form (`ohlcvAggs`
    * per bar) gives: open/close come from rows whose ts and trade_id
    * are non-null, ts_start/ts_end from rows with a non-null ts, and
    * vwap from exact cents·size in a long.
    */
  private abstract class BarScan extends graft.plans.ScanKernel {
    private var key: InternalRow = null
    private var n, vol, centVol, tsStart, tsEnd = 0L
    private var open, high, low, close = 0.0
    private var hasTs, hasOpen = false

    def reset(k: InternalRow): Unit = { key = k; n = 0L; vol = 0L; centVol = 0L }

    protected def volume: Long = vol

    /** Adds `units` of the trade in `row` to the open bar. */
    protected def add(row: InternalRow, units: Long): Unit = {
      val price = row.getDouble(2)
      if (n == 0L) { hasTs = false; hasOpen = false; high = price; low = price }
      else {
        if (price > high) high = price
        if (price < low) low = price
      }
      if (!row.isNullAt(1)) {
        tsEnd = row.getLong(1)
        if (!hasTs) { tsStart = tsEnd; hasTs = true }
        if (!row.isNullAt(4)) {
          close = price
          if (!hasOpen) { open = price; hasOpen = true }
        }
      }
      n += 1L
      vol += units
      // HALF_UP like Catalyst's round(): math.round alone rounds -234.5
      // toward +inf (-234) where round() gives -235
      centVol += (if (price >= 0) math.round(price * 100) else -math.round(-price * 100)) * units
    }

    private def closeBar(out: graft.plans.ScanOut): Unit = {
      val w = out.begin()
      out.copy(0, key, 0, StringType)
      if (hasTs) { w.write(1, tsStart); w.write(2, tsEnd) } else { w.setNullAt(1); w.setNullAt(2) }
      if (hasOpen) { w.write(3, open); w.write(6, close) } else { w.setNullAt(3); w.setNullAt(6) }
      w.write(4, high); w.write(5, low); w.write(7, vol)
      w.write(8, centVol.toDouble / 100.0 / vol.toDouble)
      w.write(9, n)
      out.emit()
      n = 0L; vol = 0L; centVol = 0L
    }

    def flush(out: graft.plans.ScanOut): Unit = if (n > 0L) closeBar(out)
  }

  /** Volume bars with overflow semantics (bar_groups
    * allow_splits=false, /root/reference/src/bars.rs:53): the whole
    * trade joins the open bar; the bar closes when its total reaches
    * barSize and the next trade starts a fresh bar. The reset-cumsum
    * is inherently sequential per (symbol,date): one keyed scan
    * (one exchange, one sort) with the OHLCV aggregation fused in —
    * rows arrive bar-contiguous. Bit-equal to the groupBy form (pinned
    * in CoreOperatorsSpec): min/max/Σ over doubles and longs are the
    * same values in any order, and vwap's two double divisions see
    * identical exact-integer operands.
    */
  private def volumeBarsOverflow(
      df: DataFrame,
      barSize: Long,
      splitByDate: Boolean,
      c: TradingCols,
  ): DataFrame =
    graft.plans.KeyedScan(barInput(df, c), barKeys(c, splitByDate), Seq(col(c.ts), col(c.tradeId)), barSchema(c),
      keyOut = Seq("symbol")) {
      () =>
        new BarScan {
          def step(row: InternalRow, out: graft.plans.ScanOut): Unit = if (!noPrice(row, 2)) {
            add(row, row.getLong(3))
            if (volume >= barSize) flush(out)
          }
        }
    }

  /** Dollar bars with split-at-boundary semantics (the
    * bar_groups(price*size, allow_splits=true) composition the
    * reference's kernel supports but bars.py never calls): bar
    * boundaries fall at exact multiples of barSize in cumulative
    * dollar terms, a straddling trade's dollar value is split at the
    * boundary. Pure arithmetic on a cumulative-cents window — stays
    * in whole-stage codegen, no sequential scan (unlike the overflow
    * form, the split form has a closed-form group assignment).
    *
    * Output mirrors the OHLCV schema with `dollar_volume` (exact
    * cents, exposed as dollars) in place of the integer share count:
    * vwap is dollar-weighted, matching _ohlcv_expr over the split
    * amount column.
    */
  def dollarBarsSplit(
      df: DataFrame,
      barSize: Double = 1000000.0,
      splitByDate: Boolean = true,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val barCents = math.round(barSize * 100)
    val keyNames = c.symbol +: (if (splitByDate) Seq("__date") else Nil)
    val w = Window
      .partitionBy(keyNames.map(col): _*)
      .orderBy(col(c.ts), col(c.tradeId))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base =
      if (splitByDate) df.withColumn("__date", to_date(col(c.ts))) else df
    val pieces = base.na
      .drop(Seq(c.price))
      .withColumn("__cents", (round(col(c.price) * 100)).cast("long") * col(c.size))
      .withColumn("__cum_end", sum(col("__cents")).over(w))
      .withColumn("__cum_start", col("__cum_end") - col("__cents"))
      .withColumn(
        "__g",
        explode(
          sequence(
            expr(s"__cum_start div ${barCents}L"),
            expr(s"greatest(__cum_start div ${barCents}L, (__cum_end - 1) div ${barCents}L)"),
          )
        ),
      )
      .withColumn(
        "__amount",
        least(col("__cum_end"), (col("__g") + 1) * barCents) -
          greatest(col("__cum_start"), col("__g") * barCents),
      )
      .where(col("__amount") > 0)
    pieces
      .groupBy((keyNames :+ "__g").map(col): _*)
      .agg(
        min(col(c.ts)).as("ts_start"),
        max(col(c.ts)).as("ts_end"),
        graft.functions.OrderedAgg
          .firstByOrd(col(c.price), col(c.ts), col(c.tradeId))
          .as("open"),
        max(col(c.price)).as("high"),
        min(col(c.price)).as("low"),
        graft.functions.OrderedAgg
          .lastByOrd(col(c.price), col(c.ts), col(c.tradeId))
          .as("close"),
        (sum(col("__amount")) / 100.0).as("dollar_volume"),
        // exact-cents vwap (see ohlcvAggs): Σ pc·amount is an
        // associative Long sum; bounded by maxCents·barCents ≪ 2^63
        (sum(round(col(c.price) * 100).cast("long") * col("__amount")).cast("double")
          / lit(100.0) / sum(col("__amount")).cast("double")).as("vwap"),
        count(lit(1)).as("n_trades"),
      )
      .select(
        col(c.symbol), col("ts_start"), col("ts_end"), col("open"), col("high"),
        col("low"), col("close"), col("dollar_volume"), col("vwap"), col("n_trades"),
      )
  }

  /** Dollar bars replicating the reference's unit-level overflow
    * semantics (bars.py:247: explode each trade into `size` unit
    * trades, then bars.rs allow_splits=false — a bar closes on the
    * unit that pushes its dollar total to >= barSize, overflow
    * allowed). Instead of materialising Σsize rows, each trade's unit
    * span is split in closed form given the carry-in, and each piece
    * folds straight into its bar: one keyed scan per (symbol,date),
    * O(1) state, bars out in the shape of the volume-overflow bars.
    *
    * Prices are converted to exact integer cents (testdata prices
    * have 2 decimals) so bar assignment is engine-independent.
    */
  def dollarBars(
      df: DataFrame,
      barSize: Double = 1000000.0,
      splitByDate: Boolean = true,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val barCents = math.round(barSize * 100)
    graft.plans.KeyedScan(barInput(df, c), barKeys(c, splitByDate), Seq(col(c.ts), col(c.tradeId)), barSchema(c),
      keyOut = Seq("symbol")) {
      () =>
        new BarScan {
          private var carry = 0L // cents accumulated in the open bar

          override def reset(k: InternalRow): Unit = { super.reset(k); carry = 0L }

          private def piece(row: InternalRow, units: Long): Unit = if (units > 0) add(row, units)

          def step(row: InternalRow, out: graft.plans.ScanOut): Unit = if (!noPrice(row, 2)) {
            val pc = math.round(row.getDouble(2) * 100) // cents per unit
            val size = row.getLong(3)
            // degenerate-price policy: a tick whose price rounds to
            // zero cents contributes no dollar value — it can never
            // close a bar, so it is skipped (carry unchanged) instead
            // of dividing by zero. The canonical trades view filters
            // these upstream; this is the operator-level guard.
            if (pc > 0L) {
              // units needed to push carry to >= barCents
              val k1 = (barCents - carry + pc - 1) / pc
              if (size < k1) {
                piece(row, size)
                carry += size * pc
              } else {
                piece(row, k1)
                flush(out); carry = 0L
                val rem = size - k1
                val k2 = (barCents + pc - 1) / pc // units per full bar at this price
                var i = rem / k2
                while (i > 0) { piece(row, k2); flush(out); i -= 1 }
                val r = rem % k2
                if (r > 0) { piece(row, r); carry = r * pc }
              }
            }
          }
        }
    }
  }
}
