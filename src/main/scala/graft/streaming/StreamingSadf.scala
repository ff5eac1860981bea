package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Sadf.sadf]]: the bounded
  * sup-ADF statistic over a stream of ticks. State per symbol is the
  * same O(maxWindow) prefix-moment ring the batch scan keeps —
  * cumulative (Σx, Σx², Σd, Σd², Σxd) snapshots — plus the previous
  * price; a tick's statistic is final the moment it arrives (backward
  * windows only), so append-mode emission is exactly-once with no
  * watermark. Identical integer moments and double trees as the
  * batch scan → streaming == batch is BIT-exact (pinned).
  */
object StreamingSadf {

  final case class Tick(symbol: String, ts: Timestamp, price: Double, trade_id: Long)

  final case class RingState(
      havePrev: Boolean,
      prevCents: Long,
      rn: Long,
      cx: Long, cxx: Long, cd: Long, cdd: Long, cxd: Long,
      ring: List[Array[Long]], // ringLen slots of [cx, cxx, cd, cdd, cxd]
  )

  final case class SadfEvent(
      symbol: String,
      ts: Timestamp,
      price: Double,
      best_window: Int,
      beta: Double,
      sadf: Double,
  )

  def sadf(trades: DataFrame, minWindow: Int = 10, maxWindow: Int = 40): Dataset[SadfEvent] = {
    require(minWindow >= 4 && maxWindow >= minWindow)
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
        processGroup(minWindow, maxWindow)
      )
  }

  private def processGroup(minW: Int, maxW: Int)(
      symbol: String,
      rows: Iterator[Tick],
      state: GroupState[RingState],
  ): Iterator[SadfEvent] = {
    val ringLen = maxW + 1
    val sorted = rows.toSeq.sortBy(t => (StatefulBars.tsMicros(t.ts), t.trade_id))
    var st = state.getOption.getOrElse(
      RingState(havePrev = false, 0L, 0L, 0L, 0L, 0L, 0L, 0L,
        List.fill(ringLen)(Array(0L, 0L, 0L, 0L, 0L)))
    )
    val ring = st.ring.toArray
    var (havePrev, prevCents, rn) = (st.havePrev, st.prevCents, st.rn)
    var (cx, cxx, cd, cdd, cxd) = (st.cx, st.cxx, st.cd, st.cdd, st.cxd)
    val out = Seq.newBuilder[SadfEvent]
    sorted.foreach { t =>
      val cents = math.round(t.price * 100)
      if (!havePrev) { havePrev = true; prevCents = cents }
      else {
        val x = prevCents
        val d = cents - prevCents
        prevCents = cents
        rn += 1
        cx += x; cxx += x * x; cd += d; cdd += d * d; cxd += x * d
        ring((rn % ringLen).toInt) = Array(cx, cxx, cd, cdd, cxd)
        if (rn > maxW) {
          var bestT = Double.NegativeInfinity
          var bestN = 0
          var bestB = 0.0
          var n = minW
          while (n <= maxW) {
            val base = ring(((rn - n) % ringLen).toInt)
            val sx = cx - base(0); val sxx = cxx - base(1)
            val sd = cd - base(2); val sdd = cdd - base(3); val sxd = cxd - base(4)
            val den = n * sxx - sx * sx
            val num = n * sxd - sx * sd
            var tv = 0.0
            var b = 0.0
            if (den != 0L) {
              b = num.toDouble / den.toDouble
              val sxxc = den.toDouble / n.toDouble
              val sddc = sdd.toDouble - sd.toDouble * sd.toDouble / n.toDouble
              val ssr = sddc - b * b * sxxc
              tv =
                if (ssr <= 0.0) math.signum(num.toDouble) * 1e308
                else b * math.sqrt(sxxc) / math.sqrt(ssr / (n - 2).toDouble)
            }
            if (tv > bestT) { bestT = tv; bestN = n; bestB = b }
            n += 1
          }
          out += SadfEvent(symbol, t.ts, t.price, bestN, bestB, bestT)
        }
      }
    }
    state.update(RingState(havePrev, prevCents, rn, cx, cxx, cd, cdd, cxd, ring.toList))
    out.result().iterator
  }
}
