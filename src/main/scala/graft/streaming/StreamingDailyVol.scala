package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming daily volatility — the streaming twin of
  * operators.Labels.dailyVol (reference dynamic_labels.py:14): EWM
  * std (span, pandas adjust=true/bias=false/ignore_na=false
  * semantics) of the 24h-lookback returns, per symbol, emitted
  * per tick. The live form of the vol-target the triple-barrier
  * labelers consume, so an online labeler sees the identical
  * volatility series the training labels were built from.
  *
  * Bit-exact against the batch form, Labels.dailyVol's per-symbol
  * scan (dailyVolScan): one flat carry-free EWM recurrence over the
  * 24h-lookback returns — exactly what this per-symbol state machine
  * runs. Pinned bit-identical in StreamingBarsSpec, including across
  * mid-symbol state splits (TestGroupState).
  *
  * State per symbol: 12 accumulator doubles + the trailing
  * lookback-horizon price buffer for the as-of lookup (bounded by
  * ticks-per-24h, NOT stream length; entries older than the latest
  * at-or-before-boundary price evict as event time advances).
  *
  * As-of semantics match operators.AsofJoin Backward: lookback price
  * = the latest price with ts <= tick.ts − lookback (inclusive).
  * Warm-up ticks with no price 24h back emit null volatility but
  * still decay the EWM weights (ignore_na=false), exactly like the
  * batch scan.
  *
  * Ordering: ticks sort by (ts, trade_id) within each micro-batch;
  * cross-batch order follows arrival, as with the other stateful
  * streaming operators.
  */
object StreamingDailyVol {

  import StatefulBars.{tsMicros, Tick}

  final case class VolState(
      // lookback buffer, oldest first; uts strictly increasing (equal
      // arrival uts keep only the last-processed price, matching the
      // batch scan's last-at-equal-keys choice)
      buf: Vector[(Long, Double)],
      // flat EWM moment accumulators (identical op order to the batch
      // scan)
      sW: Double, sWX: Double, sWX2: Double, sW2: Double,
  )

  private val emptyState = VolState(Vector.empty, 0, 0, 0, 0)

  final case class VolRow(
      symbol: String,
      ts: Timestamp,
      daily_return_volatility: Option[Double],
  )

  def dailyVol(
      trades: DataFrame,
      span: Int = 100,
      lookback: String = "24 hours",
  ): Dataset[VolRow] = {
    require(span >= 1, "span must be >= 1")
    val lookbackUs = graft.operators.Rolling.windowMicros(lookback)
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
        processGroup(span, lookbackUs)
      )
  }

  private[graft] def processGroup(span: Int, lookbackUs: Long)(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[VolState],
  ): Iterator[VolRow] = {
    val alpha = 2.0 / (span + 1.0)
    val decay = 1.0 - alpha
    val sorted = rows.toSeq.sortBy(t => (tsMicros(t.ts), t.trade_id))
    val st = state.getOption.getOrElse(emptyState)
    var buf = st.buf
    var sW = st.sW; var sWX = st.sWX; var sWX2 = st.sWX2; var sW2 = st.sW2
    val out = Seq.newBuilder[VolRow]
    sorted.foreach { t =>
      val uts = tsMicros(t.ts)
      val boundary = uts - lookbackUs
      // evict everything before the latest at-or-before-boundary entry
      while (buf.length >= 2 && buf(1)._1 <= boundary) buf = buf.tail
      val lookbackPrice: Option[Double] =
        buf.headOption.collect { case (u, p) if u <= boundary && p != 0.0 => p }
      // same op order as the batch scan: decay every row, then update
      // on non-null
      sW *= decay; sWX *= decay; sWX2 *= decay; sW2 *= decay * decay
      val vol = lookbackPrice.map { lp =>
        val x = t.price / lp - 1
        sW += 1.0; sWX += x; sWX2 += x * x; sW2 += 1.0
        val mean = sWX / sW
        val varBiased = math.max(sWX2 / sW - mean * mean, 0.0)
        val denom = sW * sW - sW2
        if (denom <= 0.0) 0.0
        else math.sqrt(varBiased * sW * sW / denom)
      }
      out += VolRow(symbol, t.ts, vol)
      buf =
        if (buf.nonEmpty && buf.last._1 == uts) buf.init :+ (uts, t.price)
        else buf :+ (uts, t.price)
    }
    state.update(VolState(buf, sW, sWX, sWX2, sW2))
    out.result().iterator
  }
}
