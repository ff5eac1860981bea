package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.TrendScan.labels]]: per
  * symbol, a ring buffer of the last maxHorizon (ts, price) ticks;
  * the moment the buffer fills, the OLDEST buffered tick has every
  * forward horizon complete and its label emits exactly once
  * (append mode, no watermark — a label is final when its longest
  * window closes, nothing later can change it). State is O(maxHorizon)
  * per symbol.
  *
  * The per-row OLS is the same integer-moment + fixed double tree as
  * the batch keyed scan (cents sums are exact integers, the same
  * t-value tree and (|t|, -L) argmax), so streaming == batch is
  * BIT-exact — pinned in ScalaTest.
  */
object StreamingTrend {

  final case class Tick(symbol: String, ts: Timestamp, price: Double, trade_id: Long)

  final case class BufState(ts: List[Long], price: List[Double], cents: List[Long])

  final case class TrendLabel(
      symbol: String,
      ts: Timestamp,
      price: Double,
      best_l: Int,
      label: Int,
      beta: Double,
      tval: Double,
  )

  def labels(trades: DataFrame, minHorizon: Int = 5, maxHorizon: Int = 20): Dataset[TrendLabel] = {
    require(minHorizon >= 3 && maxHorizon >= minHorizon)
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .select(
        col("symbol").cast("string"),
        col("ts").cast("timestamp"),
        col("price").cast("double"),
        col("trade_id").cast("long"),
      )
      .as[Tick]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        processGroup(minHorizon, maxHorizon)
      )
  }

  /** The batch t-value tree in Scala (bit-identical: Long moments,
    * same division/sqrt order as TrendScan's Catalyst expressions).
    */
  private[streaming] def bestHorizon(
      cents: IndexedSeq[Long],
      minL: Int,
      maxL: Int,
  ): (Int, Int, Double, Double) = {
    val cands = (minL to maxL).map { l =>
      var sy = 0L; var syy = 0L; var sxy = 0L
      var j = 0
      while (j < l) {
        val y = cents(j)
        sy += y; syy += y * y; sxy += j.toLong * y
        j += 1
      }
      val sx = l.toLong * (l - 1) / 2
      val sxx = (l - 1).toLong * l * (2 * l - 1) / 6
      val den = l * sxx - sx * sx
      val num = l * sxy - sx * sy
      val b = num.toDouble / den.toDouble
      val sxxc = den.toDouble / l
      val syyc = syy.toDouble - sy.toDouble * sy.toDouble / l.toDouble
      val ssr = syyc - b * b * sxxc
      val tval =
        if (ssr <= 0.0) math.signum(num.toDouble) * 1e308
        else b * math.sqrt(sxxc) / math.sqrt(ssr / (l - 2).toDouble)
      (math.abs(tval), -l, tval, b, math.signum(num.toDouble).toInt, l)
    }
    val best = cands.max
    (best._6, best._5, best._4, best._3)
  }

  private def processGroup(minL: Int, maxL: Int)(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[BufState],
  ): Iterator[TrendLabel] = {
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.getOrElse(BufState(Nil, Nil, Nil))
    // buffers oldest-first
    var ts = st.ts.toVector
    var price = st.price.toVector
    var cents = st.cents.toVector
    val out = Seq.newBuilder[TrendLabel]
    sorted.foreach { t =>
      ts :+= StatefulBars.tsMicros(t.ts)
      price :+= t.price
      cents :+= math.round(t.price * 100)
      if (ts.length == maxL) {
        val (bl, lab, beta, tval) = bestHorizon(cents, minL, maxL)
        out += TrendLabel(symbol, StatefulBars.microsTs(ts.head), price.head, bl, lab, beta, tval)
        ts = ts.tail; price = price.tail; cents = cents.tail
      }
    }
    state.update(BufState(ts.toList, price.toList, cents.toList))
    out.result().iterator
  }
}
