package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Trend-scanning labels (AFML ch.5.2 — beyond the reference's
  * fixed-horizon labels): for each observation, fit OLS of price on
  * the time index over every forward horizon L in [minHorizon,
  * maxHorizon], pick the horizon with the largest |t-value| of the
  * slope (smallest L wins ties), and label by the slope's sign.
  *
  * One keyed scan per symbol over the ticks with a price, in
  * (ts, trade_id) order, with O(maxHorizon) state: a ring of
  * cumulative (Σy, Σy², Σrn·y) snapshots scores every horizon of the
  * row maxHorizon−1 behind the cursor in ~10 integer flops each. On a
  * symbol-clustered tape it plans no exchange. A declarative form
  * (cumulative window sums and one packed lead per horizon) is kept
  * in the tests as the reference, pinned bit for bit.
  *
  * Exactness: prices become integer cents and the time index is the
  * row number, so every OLS moment (Sy, Syy, Sxy) is an exact BIGINT;
  * the t-value is a fixed double expression tree over those integers,
  * replicated op-for-op by the DuckDB oracle. The horizon argmax
  * compares (|t|, -L) — engine-exact. The cumulative moments may wrap
  * on a very long history, but a horizon reads them only as
  * differences over ≤ maxHorizon rows (and Σxy rebased to the
  * window's first row), which two's-complement arithmetic keeps exact.
  *
  * Only rows where the LONGEST horizon fits are labeled (every
  * candidate window complete).
  */
object TrendScan {

  def labels(
      df: DataFrame,
      minHorizon: Int = 5,
      maxHorizon: Int = 20,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(minHorizon >= 3, "t-value needs at least 3 points")
    require(maxHorizon >= minHorizon, "maxHorizon >= minHorizon")
    val minL = minHorizon
    val maxL = maxHorizon
    // per-horizon integer constants of the rebased x = 0..L-1 axis
    val sxArr = Array.tabulate(maxL + 1)(l => l.toLong * (l - 1) / 2)
    val sxxArr = Array.tabulate(maxL + 1)(l => (l - 1).toLong * l * (2 * l - 1) / 6)
    val denArr = Array.tabulate(maxL + 1)(l => l * sxxArr(l) - sxArr(l) * sxArr(l))
    val ticks = Bars.pricedTicks(df, c)
      .select(col(c.symbol), col(c.ts), col(c.price), round(col(c.price) * 100).cast("long").as("__cents"),
        col(c.tradeId))
    val out = StructType(Seq(
      StructField(c.symbol, StringType),
      StructField(c.ts, TimestampType),
      StructField(c.price, DoubleType, nullable = false),
      StructField("best_l", IntegerType, nullable = false),
      StructField("label", IntegerType, nullable = false),
      StructField("beta", DoubleType, nullable = false),
      StructField("tval", DoubleType, nullable = false),
    ))
    KeyedScan(ticks, Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)), out, keyOut = Seq(c.symbol)) { () =>
      new ScanKernel {
        private val ringLen = maxL + 1
        // cumulative-moment snapshots; slot rn % ringLen = cum AFTER row rn
        private val rcy, rcyy, rcjy = new Array[Long](ringLen)
        // the last maxL rows awaiting their full window, slot (rn - 1) % maxL
        private val mTs = new Array[Long](maxL)
        private val mTsNull = new Array[Boolean](maxL)
        private val mPrice = new Array[Double](maxL)
        private var key: InternalRow = null
        private var rn = 0L
        private var cy, cyy, cjy = 0L

        def reset(k: InternalRow): Unit = {
          key = k; rn = 0L; cy = 0L; cyy = 0L; cjy = 0L
          rcy(0) = 0L; rcyy(0) = 0L; rcjy(0) = 0L
        }

        def step(row: InternalRow, o: ScanOut): Unit = {
          val cents = row.getLong(3)
          rn += 1
          cy += cents; cyy += cents * cents; cjy += rn * cents
          val slot = (rn % ringLen).toInt
          rcy(slot) = cy; rcyy(slot) = cyy; rcjy(slot) = cjy
          val meta = ((rn - 1) % maxL).toInt
          mTsNull(meta) = row.isNullAt(1)
          mTs(meta) = if (mTsNull(meta)) 0L else row.getLong(1)
          mPrice(meta) = row.getDouble(2)
          if (rn >= maxL) score(rn - maxL + 1, o)
        }

        /** Row `iRow` (1-based): windows [iRow, iRow+L-1], cum base iRow-1. */
        private def score(iRow: Long, o: ScanOut): Unit = {
          val base = ((iRow - 1) % ringLen).toInt
          val cy0 = rcy(base)
          val cyy0 = rcyy(base)
          val cjy0 = rcjy(base)
          var bestA = Double.NegativeInfinity
          var bestNl = Int.MinValue
          var bestT = 0.0
          var bestB = 0.0
          var bestLab = 0
          var bestL = 0
          var l = minL
          while (l <= maxL) {
            val endSlot = ((iRow + l - 1) % ringLen).toInt
            val sy = rcy(endSlot) - cy0
            val syy = rcyy(endSlot) - cyy0
            val sjy = rcjy(endSlot) - cjy0
            val sxy = sjy - iRow * sy // x rebased to 0..L-1
            val sx = sxArr(l)
            val den = denArr(l)
            val num = l.toLong * sxy - sx * sy
            val b = num.toDouble / den.toDouble
            val sxxc = den.toDouble / l
            val syyc = syy.toDouble - sy.toDouble * sy.toDouble / l.toDouble
            val ssr = syyc - b * b * sxxc
            val tval =
              if (ssr <= 0.0) math.signum(num.toDouble) * 1e308
              else b * math.sqrt(sxxc) / math.sqrt(ssr / (l - 2).toDouble)
            val a = math.abs(tval)
            val nl = -l
            if (a > bestA || (a == bestA && nl > bestNl)) {
              bestA = a; bestNl = nl; bestT = tval; bestB = b
              bestLab = math.signum(num.toDouble).toInt; bestL = l
            }
            l += 1
          }
          val meta = ((iRow - 1) % maxL).toInt
          val w = o.begin()
          o.copy(0, key, 0, StringType)
          if (mTsNull(meta)) w.setNullAt(1) else w.write(1, mTs(meta))
          w.write(2, mPrice(meta))
          w.write(3, bestL)
          w.write(4, bestLab)
          w.write(5, bestB)
          w.write(6, bestT)
          o.emit()
        }

        def flush(o: ScanOut): Unit = ()
      }
    }
  }
}
