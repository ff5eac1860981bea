package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.TradingCols
import graft.plans.{KeyedScan, ScanKernel, ScanOut}

/** Bounded SADF — supremum ADF explosiveness statistic (AFML ch.17 /
  * Phillips-Shi-Yu, beyond the reference): for each observation, run
  * the ADF regression  Δy_t = α + β·y_{t-1} + ε  over every BACKWARD
  * window length n in [minWindow, maxWindow] ending at t, and take
  * the supremum of the β t-statistics (the bubble/structural-break
  * detector; the unbounded PSY sup over all start points is O(T) per
  * row — the bounded window set is the scalable form and the common
  * deployment).
  *
  * One keyed scan per symbol in (ts, trade_id) order with
  * O(maxWindow) state: a ring of the last maxWindow+1 cumulative
  * (Σx, Σx², Σd, Σd², Σxd) snapshots, so each row scores all windows
  * with ~15 integer flops per window. A declarative form (five
  * cumulative BIGINT moments + one struct lag per window length, sup
  * via struct array_max) is kept in the tests as the reference; its
  * WindowExec cost grows super-linearly with the window count (11
  * struct lags ran 1.4 s at sf0.1, 31 ran 9.4 s).
  *
  * All moments are exact integers and the t-stat is a fixed double
  * tree — engine-exact, replicated by the DuckDB oracle; brute-force
  * bit-equality pinned in ScalaTest. The cumulative moments may wrap
  * on a very long history, but a window reads them only as
  * differences over ≤ maxWindow rows, which two's-complement
  * arithmetic keeps exact. Degenerate guards (replicated by the
  * oracle): zero x-variance in a window → 0.0 t-stat (flat price
  * carries no explosiveness evidence); perfect fit (SSR ≤ 0) → ±1e308
  * by the sign of the slope numerator.
  */
object Sadf {

  def sadf(
      df: DataFrame,
      minWindow: Int = 10,
      maxWindow: Int = 40,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(minWindow >= 4, "ADF t-stat needs n-2 > 1")
    require(maxWindow >= minWindow)
    val out = StructType(Seq(
      StructField(c.symbol, StringType),
      StructField(c.ts, TimestampType),
      StructField(c.price, DoubleType, nullable = false),
      StructField("best_window", IntegerType, nullable = false),
      StructField("beta", DoubleType, nullable = false),
      StructField("sadf", DoubleType, nullable = false),
    ))
    KeyedScan(Bars.pricedTicks(df, c), Seq(col(c.symbol)), Seq(col(c.ts), col(c.tradeId)), out,
      keyOut = Seq(c.symbol)) { () =>
      new ScanKernel {
        private val W = maxWindow
        // ring of the last W+1 cumulative-moment snapshots (cum AFTER
        // processing row rn lives at slot rn % (W+1))
        private val ringLen = W + 1
        private val rcx, rcxx, rcd, rcdd, rcxd = new Array[Long](ringLen)
        private var key: InternalRow = null
        private var havePrev = false
        private var prevCents = 0L
        private var rn = 0L // rows with a defined delta
        private var cx, cxx, cd, cdd, cxd = 0L

        def reset(k: InternalRow): Unit = {
          key = k; havePrev = false; rn = 0L
          cx = 0L; cxx = 0L; cd = 0L; cdd = 0L; cxd = 0L
          rcx(0) = 0L; rcxx(0) = 0L; rcd(0) = 0L; rcdd(0) = 0L; rcxd(0) = 0L
        }

        def step(row: InternalRow, o: ScanOut): Unit = {
          val price = row.getDouble(2)
          val cents = math.round(price * 100)
          if (!havePrev) { havePrev = true; prevCents = cents }
          else {
            val x = prevCents
            val d = cents - prevCents
            prevCents = cents
            rn += 1
            cx += x; cxx += x * x; cd += d; cdd += d * d; cxd += x * d
            val slot = (rn % ringLen).toInt
            rcx(slot) = cx; rcxx(slot) = cxx; rcd(slot) = cd
            rcdd(slot) = cdd; rcxd(slot) = cxd
            if (rn > W) {
              // score all windows; sup by (t, -n) like the declarative
              // struct array_max
              var bestT = Double.NegativeInfinity
              var bestN = 0
              var bestB = 0.0
              var n = minWindow
              while (n <= W) {
                val base = ((rn - n) % ringLen).toInt
                val sx = cx - rcx(base)
                val sxx = cxx - rcxx(base)
                val sd = cd - rcd(base)
                val sdd = cdd - rcdd(base)
                val sxd = cxd - rcxd(base)
                val den = n * sxx - sx * sx
                val num = n * sxd - sx * sd
                var t = 0.0
                var b = 0.0
                if (den != 0L) {
                  b = num.toDouble / den.toDouble
                  val sxxc = den.toDouble / n.toDouble
                  val sddc = sdd.toDouble - sd.toDouble * sd.toDouble / n.toDouble
                  val ssr = sddc - b * b * sxxc
                  t =
                    if (ssr <= 0.0) math.signum(num.toDouble) * 1e308
                    else b * math.sqrt(sxxc) / math.sqrt(ssr / (n - 2).toDouble)
                }
                // strict >: earlier (smaller) n wins ties
                if (t > bestT) { bestT = t; bestN = n; bestB = b }
                n += 1
              }
              val w = o.begin()
              o.copy(0, key, 0, StringType)
              o.copy(1, row, 1, TimestampType)
              w.write(2, price)
              w.write(3, bestN)
              w.write(4, bestB)
              w.write(5, bestT)
              o.emit()
            }
          }
        }

        def flush(o: ScanOut): Unit = ()
      }
    }
  }
}
