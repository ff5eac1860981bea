package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.TradingCols
import graft.operators.Bars.ohlcvAggs

/** One trade with its overflow-mode bar assignment. */
final case class OverflowRow(
    symbol: String,
    date: java.sql.Date,
    ts: java.sql.Timestamp,
    price: Double,
    size: Long,
    trade_id: Long,
    bar_id: Long,
)

/** One split piece of a trade assigned to a dollar bar. */
final case class DollarPiece(
    symbol: String,
    date: java.sql.Date,
    ts: java.sql.Timestamp,
    price: Double,
    units: Long,
    trade_id: Long,
    bar_id: Long,
)

/** The groupBy forms of the fused overflow bar scans (`Bars.volumeBars`
  * with allowSplits = false, `Bars.dollarBars`): each assigns bar ids in
  * a typed per-(symbol, date) scan, then aggregates every bar with the
  * declarative `Bars.ohlcvAggs`. Test-scope references the fused scans
  * are pinned against.
  */
object BarsReference {

  private def barCols(c: TradingCols): Seq[String] =
    Seq("ts_start", "ts_end", c.open, c.high, c.low, c.close, "volume", "vwap", "n_trades")

  /** Volume bars, overflow mode: a per-(symbol, date) bar-id scan, then
    * `Bars.ohlcvAggs` per bar.
    */
  def volumeBarsOverflowAgg(
      df: DataFrame,
      barSize: Long,
      splitByDate: Boolean,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dateExpr = if (splitByDate) to_date(col(c.ts)) else to_date(lit("1970-01-01"))
    val sorted = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        dateExpr.as("date"),
        col(c.ts).as("ts"),
        col(c.price).cast("double").as("price"),
        col(c.size).cast("long").as("size"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .repartition(col("symbol"), col("date"))
      .sortWithinPartitions(col("symbol"), col("date"), col("ts"), col("trade_id"))

    val assigned = sorted
      .as[(String, java.sql.Date, java.sql.Timestamp, Double, Long, Long)]
      .mapPartitions { it =>
        var curSym: String = null
        var curDate: java.sql.Date = null
        var cur = 0L
        var barId = 0L
        it.map { case (sym, date, ts, price, size, tradeId) =>
          if (sym != curSym || curDate == null || date.getTime != curDate.getTime) {
            curSym = sym; curDate = date; cur = 0L; barId = 0L
          }
          val row = OverflowRow(sym, date, ts, price, size, tradeId, barId)
          cur += size
          if (cur >= barSize) { barId += 1; cur = 0L }
          row
        }
      }
      .toDF()

    val pc = TradingCols(symbol = "symbol", ts = "ts", price = "price", size = "size", tradeId = "trade_id")
    assigned
      .groupBy(col("symbol"), col("date"), col("bar_id"))
      .agg(ohlcvAggs(pc, col("size")).head, ohlcvAggs(pc, col("size")).tail: _*)
      .select(col("symbol") +: barCols(c).map(col): _*)
  }

  /** Dollar bars, unit-level overflow: a carry scan that splits each
    * trade into per-bar pieces, then `Bars.ohlcvAggs` per bar.
    */
  def dollarBarsAgg(
      df: DataFrame,
      barSize: Double = 1000000.0,
      splitByDate: Boolean,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val barCents = math.round(barSize * 100)
    // splitByDate=false: one carry scan per symbol across all days
    val dateExpr = if (splitByDate) to_date(col(c.ts)) else to_date(lit("1970-01-01"))

    val sorted = df.na
      .drop(Seq(c.price))
      .select(
        col(c.symbol).cast("string").as("symbol"),
        dateExpr.as("date"),
        col(c.ts).as("ts"),
        col(c.price).cast("double").as("price"),
        col(c.size).cast("long").as("size"),
        col(c.tradeId).cast("long").as("trade_id"),
      )
      .repartition(col("symbol"), col("date"))
      .sortWithinPartitions(col("symbol"), col("date"), col("ts"), col("trade_id"))

    val pieces = sorted
      .as[(String, java.sql.Date, java.sql.Timestamp, Double, Long, Long)]
      .mapPartitions { it =>
        var curSym: String = null
        var curDate: java.sql.Date = null
        var carry = 0L // cents accumulated in the open bar
        var barId = 0L
        it.flatMap { case (sym, date, ts, price, size, tradeId) =>
          if (sym != curSym || curDate == null || date.getTime != curDate.getTime) {
            curSym = sym; curDate = date; carry = 0L; barId = 0L
          }
          val pc = math.round(price * 100) // cents per unit
          val out = scala.collection.mutable.ArrayBuffer.empty[DollarPiece]
          def emit(units: Long): Unit =
            if (units > 0)
              out += DollarPiece(sym, date, ts, price, units, tradeId, barId)
          // degenerate-price policy: a tick whose price rounds to
          // zero cents contributes no dollar value — it can never
          // close a bar, so it is skipped (carry unchanged) instead
          // of dividing by zero. The canonical trades view filters
          // these upstream; this is the operator-level guard.
          if (pc > 0L) {
            // units needed to push carry to >= barCents
            val k1 = (barCents - carry + pc - 1) / pc
            if (size < k1) {
              emit(size)
              carry += size * pc
            } else {
              emit(k1)
              barId += 1; carry = 0L
              val rem = size - k1
              val k2 = (barCents + pc - 1) / pc // units per full bar at this price
              val nFull = rem / k2
              var i = 0L
              while (i < nFull) { emit(k2); barId += 1; i += 1 }
              val r = rem % k2
              if (r > 0) { emit(r); carry = r * pc }
            }
          }
          out
        }
      }
      .toDF()

    val pc = TradingCols(symbol = "symbol", ts = "ts", price = "price", size = "units", tradeId = "trade_id")
    pieces
      .groupBy(col("symbol"), col("date"), col("bar_id"))
      .agg(ohlcvAggs(pc, col("units")).head, ohlcvAggs(pc, col("units")).tail: _*)
      .select(col("symbol") +: barCols(c).map(col): _*)
  }
}
