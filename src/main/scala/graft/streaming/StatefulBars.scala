package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.api.TradingCols

/** Stateful streaming bars (count/volume-triggered bars cannot be
  * expressed as windowed aggregations — the bar boundary depends on
  * accumulated state, so this is the flatMapGroupsWithState shape).
  * Only the bars whose batch form is a window expression live here;
  * the dollar, volume-overflow, imbalance and run bars are keyed
  * scans, and the batch operators (`Bars.dollarBars`,
  * `Bars.volumeBars(allowSplits = false)`, `ImbalanceBars.*`) run
  * their kernels on a streaming DataFrame themselves.
  *
  * State per symbol is one open bar (O(1)); completed bars emit in
  * append mode exactly once. Ticks are processed in (ts, trade_id)
  * order within each micro-batch; as with any count-based streaming
  * bar, cross-batch reordering follows arrival order.
  *
  * ==Ordered-arrival contract (ALL entry points in this object, and
  * every keyed scan over a stream)==
  * State carries across micro-batches with NO watermark: every
  * operator here assumes micro-batch N+1's ticks are event-time ≥
  * micro-batch N's for the same key. This holds for the intended
  * sources (an ordered tick feed, or file sources whose file order
  * follows event time — the AvailableNow replay the equality tests
  * use). Files replayed OUT of event-time order are folded into the
  * open bar in arrival order and silently produce different
  * bars/stats than the batch operator would. If the source can
  * reorder across batches, pre-bucket the feed (e.g. TradeStore's
  * date partitions, replayed in partition order) before streaming it.
  */
object StatefulBars {

  final case class Tick(
      symbol: String,
      ts: Timestamp,
      price: Double,
      size: Long,
      trade_id: Long,
  )

  final case class OpenBar(
      n: Long,
      tsStart: Long,
      tsEnd: Long,
      open: Double,
      high: Double,
      low: Double,
      close: Double,
      volume: Long,
      pv: Long, // exact price*size cents (matches batch ohlcvAggs)
  )

  final case class Bar(
      symbol: String,
      ts_start: Timestamp,
      ts_end: Timestamp,
      open: Double,
      high: Double,
      low: Double,
      close: Double,
      volume: Long,
      vwap: Double,
      n_trades: Long,
  )

  private[streaming] def tsMicros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000L

  private[streaming] def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** N-ticks-per-bar streaming bars over a (possibly streaming)
    * trades DataFrame with TradingCols.default columns.
    */
  def tickBars(trades: DataFrame, barSize: Int): Dataset[Bar] = {
    val spark = trades.sparkSession
    import spark.implicits._
    val ticks = trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("size").cast("long"),
        col("trade_id").cast("long"),
      )
      .as[Tick]

    ticks
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        processGroup(barSize)
      )
  }

  private def processGroup(barSize: Int)(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[OpenBar],
  ): Iterator[Bar] = {
    val sorted = rows.toSeq.sortBy(t => (tsMicros(t.ts), t.trade_id))
    var bar = state.getOption.orNull
    val out = Seq.newBuilder[Bar]
    sorted.foreach { t =>
      val tsUs = tsMicros(t.ts) // full microsecond precision
      bar =
        if (bar == null)
          OpenBar(1, tsUs, tsUs, t.price, t.price, t.price, t.price, t.size, math.round(t.price * 100) * t.size)
        else
          OpenBar(
            bar.n + 1,
            bar.tsStart,
            tsUs,
            bar.open,
            math.max(bar.high, t.price),
            math.min(bar.low, t.price),
            t.price,
            bar.volume + t.size,
            bar.pv + math.round(t.price * 100) * t.size,
          )
      if (bar.n >= barSize) {
        out += Bar(
          symbol,
          microsTs(bar.tsStart),
          microsTs(bar.tsEnd),
          bar.open,
          bar.high,
          bar.low,
          bar.close,
          bar.volume,
          bar.pv.toDouble / 100.0 / bar.volume.toDouble,
          bar.n,
        )
        bar = null
      }
    }
    if (bar == null) state.remove() else state.update(bar)
    out.result().iterator
  }

  // ---- streaming volume / dollar threshold bars ----

  /** Dollar-split bar: `dollar_volume` (exact cents, exposed as
    * dollars) replaces the integer share count — mirrors the batch
    * operators.Bars.dollarBarsSplit schema.
    */
  final case class DollarSplitBar(
      symbol: String,
      ts_start: Timestamp,
      ts_end: Timestamp,
      open: Double,
      high: Double,
      low: Double,
      close: Double,
      dollar_volume: Double,
      vwap: Double,
      n_trades: Long,
  )

  /** HALF_UP cents like Catalyst round() — math.round alone rounds
    * -234.5 toward +inf where round() gives -235 (same mirror as the
    * batch fused scan).
    */
  private[graft] def cents(price: Double): Long =
    if (price >= 0) math.round(price * 100) else -math.round(-price * 100)

  /** Fold one (possibly split) piece into the open bar. `sizeEff` is
    * the piece's effective size (shares, units, or cents of dollar
    * value); `pvInc` the exact Σ cents·size increment for the vwap.
    */
  private def addPiece(bar: OpenBar, tsUs: Long, price: Double, sizeEff: Long, pvInc: Long): OpenBar =
    if (bar == null)
      OpenBar(1, tsUs, tsUs, price, price, price, price, sizeEff, pvInc)
    else
      OpenBar(
        bar.n + 1, bar.tsStart, tsUs, bar.open,
        math.max(bar.high, price), math.min(bar.low, price), price,
        bar.volume + sizeEff, bar.pv + pvInc,
      )

  private def toBar(symbol: String, bar: OpenBar): Bar =
    Bar(
      symbol, microsTs(bar.tsStart), microsTs(bar.tsEnd),
      bar.open, bar.high, bar.low, bar.close,
      bar.volume, bar.pv.toDouble / 100.0 / bar.volume.toDouble, bar.n,
    )

  private val DayUs = 86400000000L

  /** Per-(symbol, UTC day) keyed tick groups — the batch operators'
    * splitByDate=true grouping (session TZ is UTC in all graft
    * entrypoints, so to_date(ts) ≡ floorDiv(epoch µs, day)).
    */
  private def bydayTicks(trades: DataFrame) = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("size").cast("long"),
        col("trade_id").cast("long"),
      )
      .as[Tick]
      .groupByKey(t => (t.symbol, Math.floorDiv(tsMicros(t.ts), DayUs)))
  }

  /** Streaming volume bars keyed by (symbol, UTC day) — the batch
    * default splitByDate=true grouping, carried across micro-batches
    * in O(1) state per key. A trade straddling the boundary is split
    * at the exact multiple of `barSize` in cumulative volume and
    * n_trades counts pieces (batch Bars.volumeBars split form).
    * Completed bars emit exactly once in append mode; open partials
    * (including day-tail partials) stay in state, so streaming ==
    * batch on completed bars. Requires size >= 1 per tick (the
    * canonical trades contract).
    */
  def volumeBars(trades: DataFrame, barSize: Long): Dataset[Bar] = {
    val spark = trades.sparkSession
    import spark.implicits._
    bydayTicks(trades)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        processVolume(barSize)
      )
  }

  private def processVolume(barSize: Long)(
      key: (String, Long),
      rows: Iterator[Tick],
      state: GroupState[OpenBar],
  ): Iterator[Bar] = {
    val sorted = rows.toSeq.sortBy(t => (tsMicros(t.ts), t.trade_id))
    var bar = state.getOption.orNull
    val out = Seq.newBuilder[Bar]
    sorted.foreach { t =>
      val tsUs = tsMicros(t.ts)
      val pc = cents(t.price)
      var remaining = t.size
      while (remaining > 0) {
        val room = barSize - (if (bar == null) 0L else bar.volume)
        val take = math.min(remaining, room)
        bar = addPiece(bar, tsUs, t.price, take, pc * take)
        remaining -= take
        if (bar.volume >= barSize) { out += toBar(key._1, bar); bar = null }
      }
    }
    if (bar == null) state.remove() else state.update(bar)
    out.result().iterator
  }

  /** Streaming dollar bars with split-at-boundary semantics (batch
    * Bars.dollarBarsSplit): bar boundaries at exact multiples of
    * barSize in cumulative dollar (cent) terms; a straddling trade's
    * dollar value splits at the boundary, n_trades counts pieces.
    * The open bar's `volume` accumulates piece amounts in cents.
    */
  def dollarBarsSplit(trades: DataFrame, barSize: Double): Dataset[DollarSplitBar] = {
    val spark = trades.sparkSession
    import spark.implicits._
    val barCents = math.round(barSize * 100)
    bydayTicks(trades)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        processDollarSplit(barCents)
      )
  }

  private def processDollarSplit(barCents: Long)(
      key: (String, Long),
      rows: Iterator[Tick],
      state: GroupState[OpenBar],
  ): Iterator[DollarSplitBar] = {
    val sorted = rows.toSeq.sortBy(t => (tsMicros(t.ts), t.trade_id))
    var bar = state.getOption.orNull
    val out = Seq.newBuilder[DollarSplitBar]
    sorted.foreach { t =>
      val tsUs = tsMicros(t.ts)
      val pc = cents(t.price)
      var remaining = pc * t.size // the trade's dollar value in cents
      while (remaining > 0) {
        val room = barCents - (if (bar == null) 0L else bar.volume)
        val take = math.min(remaining, room)
        bar = addPiece(bar, tsUs, t.price, take, pc * take)
        remaining -= take
        if (bar.volume >= barCents) {
          out += DollarSplitBar(
            key._1, microsTs(bar.tsStart), microsTs(bar.tsEnd),
            bar.open, bar.high, bar.low, bar.close,
            bar.volume.toDouble / 100.0,
            bar.pv.toDouble / 100.0 / bar.volume.toDouble, bar.n,
          )
          bar = null
        }
      }
    }
    if (bar == null) state.remove() else state.update(bar)
    out.result().iterator
  }
}
