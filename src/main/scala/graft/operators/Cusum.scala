package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Symmetric CUSUM event filter (AFML ch.2.5.2.1, snippet 2.4 — the
  * event-sampling step the reference's label operators expect their
  * `events` input to come from; beyond the reference's own surface,
  * like the imbalance bars).
  *
  * Per symbol, over price deltas d_t (exact integer cents):
  *   sPos = max(0, sPos + d_t);  sNeg = min(0, sNeg + d_t)
  *   if sNeg < -h: emit event, reset sNeg (only)
  *   elif sPos > h: emit event, reset sPos (only)
  * Only the TRIGGERING side resets (AFML's if/elif), and the negative
  * side wins a same-tick double crossing — both quirks are part of the
  * contract and replicated by the oracle.
  *
  * All state is integer cents, so event placement is engine-exact.
  * Inherently sequential per symbol (the clamp is a data-dependent
  * recurrence): one keyed scan per symbol in (ts, trade_id) order
  * with O(1) state; on a symbol-clustered tape it plans no exchange.
  * Throughput is bounded by the largest single symbol's history,
  * documented in SURVEY §6.
  */
object Cusum {

  /** @param threshold h in PRICE units (e.g. 100.0 = $100); compared
    *                   against the cusum of cent deltas as round(h*100).
    */
  def events(
      df: DataFrame,
      threshold: Double,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(threshold > 0, "threshold > 0")
    val h = math.round(threshold * 100)
    val out = StructType(Seq(
      StructField("symbol", StringType),
      StructField("ts", TimestampType),
      StructField("side", IntegerType, nullable = false),
      StructField("s_pos", LongType, nullable = false),
      StructField("s_neg", LongType, nullable = false),
    ))
    KeyedScan(Bars.pricedTicks(df, c), Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)), out,
      keyOut = Seq("symbol")) { () =>
      new ScanKernel {
        private var key: InternalRow = null
        private var havePrev = false
        private var prevCents = 0L
        private var sPos = 0L
        private var sNeg = 0L

        def reset(k: InternalRow): Unit = { key = k; havePrev = false; sPos = 0L; sNeg = 0L }

        def step(row: InternalRow, o: ScanOut): Unit = {
          val cents = math.round(row.getDouble(2) * 100)
          if (!havePrev) { havePrev = true; prevCents = cents }
          else {
            val d = cents - prevCents
            prevCents = cents
            sPos = math.max(0L, sPos + d)
            sNeg = math.min(0L, sNeg + d)
            if (sNeg < -h) { event(row, -1, o); sNeg = 0L }
            else if (sPos > h) { event(row, 1, o); sPos = 0L }
          }
        }

        private def event(row: InternalRow, side: Int, o: ScanOut): Unit = {
          val w = o.begin()
          o.copy(0, key, 0, StringType)
          o.copy(1, row, 1, TimestampType)
          w.write(2, side)
          w.write(3, sPos)
          w.write(4, sNeg)
          o.emit()
        }

        def flush(o: ScanOut): Unit = ()
      }
    }
  }
}
